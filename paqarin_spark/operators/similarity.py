"""Similarity search over embedding columns (north-star extension,
SURVEY.md §7 step 6): brute-force cosine top-k as the exact baseline,
plus an LSH-bucketed approximate variant as the scale path.

Embeddings travel as ``array<float>`` columns; dot products are
``F.zip_with`` + ``F.aggregate`` — JVM-side, no Python UDF.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _auto_blocks(n_rows: int, target: int = 2048, cap: int = 64) -> int:
    """Block count sized so each matrix block holds ~``target`` vectors:
    small corpora collapse to one block (one BLAS call, none of the
    B² fan-out overhead), large ones cap at ``cap`` blocks — at 64-dim
    doubles a capped block is still only |corpus|/64 rows per task.
    Auto-sizing changes the task split, never the result: block
    assignment is content-hashed and the merges (min/top-k) are
    order-independent. The count that drives it is one extra eager
    job over the input — cheap for a scan, but callers whose input is
    an expensive unpersisted pipeline should pass ``num_blocks``
    explicitly (or persist the input) to avoid re-executing it."""
    return max(1, min(cap, -(-int(n_rows) // target)))


def _vector_blocks(
    df: DataFrame,
    id_column: str,
    vector_column: str,
    num_blocks: int,
    blk_col: str,
    rows_col: str,
) -> DataFrame:
    """Pack (id, vector) rows into ``num_blocks`` matrix blocks keyed by
    a content hash of the id — one row per block holding the block's
    members as an array of structs. Layout-independent (hash, not
    position) so retries/AQE cannot re-block, and each block is sized
    |corpus|/num_blocks regardless of input partitioning."""
    return (
        df.select(F.col(id_column).alias("_id"), F.col(vector_column).alias("_vec"))
        .withColumn(blk_col, F.pmod(F.xxhash64("_id"), F.lit(num_blocks)).cast("int"))
        .groupBy(blk_col)
        .agg(F.collect_list(F.struct("_id", "_vec")).alias(rows_col))
    )


def _block_pair_stream(
    corpus: DataFrame,
    queries: DataFrame,
    id_column: str,
    vector_column: str,
    num_blocks: int,
) -> DataFrame:
    """All query-block × corpus-block pairs: B² small-but-heavy rows,
    repartitioned on both block ids so every BLAS task lands on its own
    core. This is the distributed block-matrix pattern — no executor
    ever sees more than (|Q|+|C|)/num_blocks vectors, and the DRIVER
    never sees any (the round-1 implementation collected the whole
    corpus through ``toPandas()``, the scale-killer this replaces).

    The pairing is an explode + EQUI-join on the corpus block id, not a
    crossJoin: a crossJoin of the two block tables plans as a
    BroadcastNestedLoopJoin whose build side — the entire packed corpus
    — materializes through the driver, quietly reintroducing the
    collect this design removes. The equi-join shuffles instead, and
    AQE still broadcasts it when the corpus is genuinely small."""
    qb = _vector_blocks(queries, id_column, vector_column, num_blocks, "_qblk", "_qrows")
    cb = _vector_blocks(corpus, id_column, vector_column, num_blocks, "_cblk", "_crows")
    fanout = qb.withColumn(
        "_cblk", F.explode(F.array(*[F.lit(i) for i in range(num_blocks)]))
    )
    return fanout.join(cb, on="_cblk").repartition(F.col("_qblk"), F.col("_cblk"))


def _matmul_chunks(q_mat, c_mat, q_norm, c_norm, chunk: int = 2048):
    """Yield (row_offset, rounded-cosine-sim chunk) keeping each sims
    slab at chunk×|c_block| so task memory stays bounded."""
    import numpy as np

    for lo in range(0, q_mat.shape[0], chunk):
        hi = min(lo + chunk, q_mat.shape[0])
        sims = _round_half_up(
            (q_mat[lo:hi] @ c_mat.T) / np.outer(q_norm[lo:hi], c_norm), 6
        )
        yield lo, sims


def _round_half_up(a, decimals: int = 6):
    """numpy rounding with Spark/DuckDB ROUND semantics (HALF_UP, away
    from zero on exact halves) — np.round is banker's half-to-even, so
    a projection landing exactly on a half boundary would flip a sign
    bit between the numpy fast path and its SQL oracle mirror."""
    import numpy as np

    scale = 10.0 ** decimals
    return np.sign(a) * np.floor(np.abs(a) * scale + 0.5) / scale


def _md5_sign(key: str) -> float:
    """±1 from the first-hex-digit parity of md5(key) — THE portable
    sign convention every SQL oracle mirrors byte-for-byte (shared by
    the sign-plane LSH family and the JL projection; key prefixes
    differ, the construction must not)."""
    import hashlib

    return 1.0 if int(hashlib.md5(key.encode()).hexdigest()[0], 16) % 2 == 0 else -1.0


def cosine_topk(
    df: DataFrame,
    id_column: str,
    vector_column: str,
    k: int = 5,
    queries: DataFrame | None = None,
    num_blocks: int | None = None,
) -> DataFrame:
    """Exact brute-force cosine top-k neighbors.

    ``queries`` defaults to the corpus itself (all-pairs kNN, self
    excluded). Physical strategy: hash-partition both sides into
    ``num_blocks`` matrix blocks, cross-join the B×B block pairs (a
    join of 2·B block rows, not of vectors), compute each block of the
    similarity matrix with one BLAS matmul per pair, keep a per-block
    top-k, then take the global top-k per query with a window rank over
    the ≤ B·k surviving candidates. Exact — the global top-k is always
    contained in the union of per-corpus-block top-ks.

    Scale posture: work is O(|Q|·|C|) BLAS no matter what (that is what
    "exact" costs — use :func:`lsh_topk` / :func:`ivf_topk` when the
    corpus outgrows brute force), but memory is O((|Q|+|C|)/B) per task
    and NOTHING flows through the driver; size ``num_blocks`` so a
    block fits executor memory.

    Output: (query_id, neighbor_id, cos_sim) with rank <= k per query,
    cos_sim rounded 6dp, ties broken by neighbor_id.
    """
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_column].dataType.simpleString()
    out_schema = f"query_id {id_type}, neighbor_id {id_type}, cos_sim double"

    if num_blocks is None:
        num_blocks = _auto_blocks(
            max(df.count(), queries.count() if queries is not None else 0)
        )
    # Self-exclusion only in self-kNN mode: with an explicit `queries`
    # table the two id spaces are unrelated, and a corpus id that
    # happens to equal a query id is a legitimate candidate.
    same_table = queries is None
    pairs = _block_pair_stream(
        df, queries or df, id_column, vector_column, num_blocks
    )

    def block_topk(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                q_ids = np.array([r["_id"] for r in row["_qrows"]])
                q_mat = np.vstack([r["_vec"] for r in row["_qrows"]]).astype(np.float64)
                c_ids = np.array([r["_id"] for r in row["_crows"]])
                c_mat = np.vstack([r["_vec"] for r in row["_crows"]]).astype(np.float64)
                q_norm = np.linalg.norm(q_mat, axis=1)
                c_norm = np.linalg.norm(c_mat, axis=1)
                frames = []
                for lo, sims in _matmul_chunks(q_mat, c_mat, q_norm, c_norm):
                    cq, cn, cs = _topk_rows(
                        q_ids[lo : lo + sims.shape[0]],
                        c_ids,
                        sims,
                        k,
                        exclude_self=same_table,
                    )
                    frames.append(
                        pd.DataFrame(
                            {"query_id": cq, "neighbor_id": cn, "cos_sim": cs}
                        )
                    )
                yield pd.concat(frames) if frames else pd.DataFrame(
                    {"query_id": [], "neighbor_id": [], "cos_sim": []}
                )

    partial = pairs.mapInPandas(block_topk, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        partial.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim")
    )


def cosine_topk_expr(
    df: DataFrame,
    id_column: str,
    vector_column: str,
    k: int = 5,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Pure-expression variant of :func:`cosine_topk` (crossJoin +
    zip_with dot products + rank window). Same output contract; kept
    for environments without Arrow and as the oracle-shaped reference
    implementation."""
    corpus = df.select(
        F.col(id_column).alias("neighbor_id"),
        F.col(vector_column).alias("_cvec"),
    )
    q = (queries or df).select(
        F.col(id_column).alias("query_id"), F.col(vector_column).alias("_qvec")
    )
    pairs = q.crossJoin(corpus)
    if queries is None:  # self-kNN: mask the trivial self match
        pairs = pairs.where(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("_qvec"), F.col("_cvec")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim")
    )


def cosine_dedup_pairs(
    df: DataFrame,
    id_column: str,
    vector_column: str,
    threshold: float = 0.9,
    num_blocks: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection: all pairs with
    ``cos_sim >= threshold``, canonicalized as ``id_a < id_b``.

    Physical strategy mirrors :func:`cosine_topk`: hash-blocked
    block-matrix cross join, one BLAS matmul per block pair, nothing
    through the driver. Emitting only the upper triangle (id_a < id_b)
    means each qualifying pair surfaces in exactly one block pair — no
    dedup pass needed. Exact and O(n²) BLAS by definition; for corpora
    beyond brute force use :func:`cosine_dedup_pairs_bucketed`, which
    fronts this kernel with LSH buckets.

    Output: (id_a, id_b, cos_sim) with cos_sim rounded 6dp, thresholded
    on the rounded value so the contract is exactly reproducible.
    """
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_column].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cos_sim double"

    if num_blocks is None:
        num_blocks = _auto_blocks(df.count())
    pairs = _block_pair_stream(df, df, id_column, vector_column, num_blocks)

    def block_pairs(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                q_ids = np.array([r["_id"] for r in row["_qrows"]])
                q_mat = np.vstack([r["_vec"] for r in row["_qrows"]]).astype(np.float64)
                c_ids = np.array([r["_id"] for r in row["_crows"]])
                c_mat = np.vstack([r["_vec"] for r in row["_crows"]]).astype(np.float64)
                q_norm = np.linalg.norm(q_mat, axis=1)
                c_norm = np.linalg.norm(c_mat, axis=1)
                for lo, sims in _matmul_chunks(q_mat, c_mat, q_norm, c_norm):
                    # upper triangle only: query id strictly below
                    # neighbor id
                    qi, ci = np.nonzero(
                        (sims >= threshold)
                        & (q_ids[lo : lo + sims.shape[0], None] < c_ids[None, :])
                    )
                    yield pd.DataFrame(
                        {
                            "id_a": q_ids[lo + qi],
                            "id_b": c_ids[ci],
                            "cos_sim": sims[qi, ci],
                        }
                    )

    return pairs.mapInPandas(block_pairs, schema=out_schema)


def _top_cols(s, kk: int):
    """Column indices of each row's top-``kk`` entries by (value desc,
    column index asc), fully vectorized. Tie-break rides a composite
    key: values are 6dp-rounded (adjacent distinct values differ by
    ≥~1e-6), so subtracting ``1e-13 × col`` reorders exact ties toward
    the smaller column without ever crossing a value boundary (safe to
    ~1e6 columns). For wide matrices an argpartition prefilter keeps it
    O(n·C) instead of O(n·C·log C) — the difference between seconds
    and minutes at millions of rows × thousands of candidates."""
    import numpy as np

    if s.shape[1] > 5_000_000:
        # 1e-13 × col approaches the 1e-6 rounding quantum past ~1e7
        # columns, where the tie-break could reorder genuinely
        # different sims. Enforce the documented bound instead of
        # silently mis-ranking: shrink per-task candidate width via
        # more blocks/cells.
        raise ValueError(
            f"candidate width {s.shape[1]} exceeds the tie-break-safe "
            "bound (5e6); raise num_blocks/num_cells so each task "
            "sees fewer candidates"
        )
    comp = s - 1e-13 * np.arange(s.shape[1], dtype=np.float64)[None, :]
    if s.shape[1] > 8 * kk:
        part = np.argpartition(-comp, kk - 1, axis=1)[:, :kk]
        sub = np.take_along_axis(comp, part, axis=1)
        order = np.argsort(-sub, axis=1, kind="stable")
        return np.take_along_axis(part, order, axis=1)
    return np.argsort(-comp, axis=1, kind="stable")[:, :kk]


def _topk_rows(q_ids, m_ids, sims, k: int, exclude_self: bool = True):
    """Vectorized per-row top-k by (sim desc, candidate id asc):
    columns are pre-sorted by candidate id so :func:`_top_cols`'s
    index tie-break IS the id tie-break — no Python lexsort per query
    row. Returns parallel (query_id, neighbor_id, cos_sim) arrays.

    ``exclude_self`` masks candidates whose id equals the query id —
    correct ONLY when queries and corpus are the same table (self-kNN).
    In cross-table retrieval the id spaces are unrelated, so an
    accidental id collision must stay rankable — callers pass False.

    Contract note: non-finite sims (a zero-norm vector makes every
    cosine NaN) are dropped rather than ranked — deterministic, and
    the honest choice given that NaN ordering differs between numpy
    sorts and SQL engines anyway. Zero-norm vectors are out of the
    oracle-checked input contract; pre-filter them if a corpus can
    contain empty embeddings."""
    import numpy as np

    col_order = np.argsort(m_ids, kind="stable")
    ids_sorted = m_ids[col_order]
    s = sims[:, col_order].astype(np.float64, copy=True)
    if exclude_self:
        s[ids_sorted[None, :] == q_ids[:, None]] = -np.inf
    kk = min(k, s.shape[1])
    top = _top_cols(s, kk)
    top_sims = np.take_along_axis(s, top, axis=1)
    valid = np.isfinite(top_sims)
    rows = np.repeat(q_ids, kk).reshape(top.shape)
    return rows[valid], ids_sorted[top][valid], top_sims[valid]


def _seeded_planes(
    seed: int,
    num_planes: int,
    width: int,
    expected_dim: int | None,
    vector_column: str,
    family: str = "gauss",
):
    """Deterministic hyperplanes sized to the ACTUAL embedding width.
    Built lazily inside each task from the first Arrow batch (same
    seed → identical planes on every executor, no broadcast needed for
    a num_planes×width matrix); an explicit ``dim`` is validated here
    so a mismatch raises a clear error naming the parameter instead of
    an opaque numpy shape error mid-matmul.

    ``family='gauss'``: seeded Gaussian entries (classic SimHash-LSH).
    ``family='sign'``: ±1 entries from md5 parity — the em12/JPEG
    portable-hash convention, so bucket assignment is REPLAYABLE IN
    SQL and an LSH query can be value-checked end to end. Both are
    valid sign-random-projection families."""
    import random

    import numpy as np

    if expected_dim is not None and width != expected_dim:
        raise ValueError(
            f"dim={expected_dim} does not match the embedding width {width} "
            f"found in column {vector_column!r}; omit dim to infer it"
        )
    if family == "sign":
        return np.array(
            [
                [_md5_sign(f"lsh{seed}#{j}#{i}") for i in range(width)]
                for j in range(num_planes)
            ]
        )
    if family != "gauss":
        raise ValueError(f"plane family must be gauss|sign, got {family!r}")
    rng = random.Random(seed)
    return np.array(
        [[rng.gauss(0.0, 1.0) for _ in range(width)] for _ in range(num_planes)]
    )


def cosine_dedup_pairs_bucketed(
    df: DataFrame,
    id_column: str,
    vector_column: str,
    threshold: float = 0.9,
    num_planes: int = 12,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Scale path for embedding near-dup: random-hyperplane LSH buckets
    as the candidate front, exact cosine verification within each
    bucket. Same output contract as :func:`cosine_dedup_pairs` but
    recall < 1 by design (pairs hashing to different buckets are never
    compared — for cos_sim ≥ 0.9 thresholds the collision probability
    per plane is ≈ 1 - angle/π ≈ 0.86^planes-ish; raise recall by
    unioning over several seeds, the standard multi-table LSH move).

    Physical plan: bucket assignment is one sign-of-matmul per Arrow
    batch, then a shuffle on bucket id co-locates candidates and one
    BLAS matmul per bucket emits the thresholded upper triangle. At
    100 TB the buckets ARE the partitioning — expected bucket size is
    n/2^planes, no all-pairs stage exists, and the driver never sees a
    vector.
    """
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_column].dataType.simpleString()
    vec_type = df.schema[vector_column].dataType.simpleString()
    bucketed_schema = f"{id_column} {id_type}, {vector_column} {vec_type}, bucket long"

    def assign(batches):
        p = None
        weights = 1 << np.arange(num_planes, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf[vector_column].to_numpy()).astype(np.float64)
            if p is None:
                p = _seeded_planes(seed, num_planes, mat.shape[1], dim, vector_column)
            bits = (mat @ p.T) >= 0
            out = pdf[[id_column, vector_column]].copy()
            out["bucket"] = bits @ weights
            yield out

    bucketed = df.select(id_column, vector_column).mapInPandas(
        assign, schema=bucketed_schema
    )

    out_schema = f"id_a {id_type}, id_b {id_type}, cos_sim double"

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_column].to_numpy()
        mat = np.vstack(pdf[vector_column].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(mat, axis=1)
        frames = []
        for lo, sims in _matmul_chunks(mat, mat, nrm, nrm):
            qi, ci = np.nonzero(
                (sims >= threshold) & (ids[lo : lo + sims.shape[0], None] < ids[None, :])
            )
            frames.append(
                pd.DataFrame(
                    {"id_a": ids[lo + qi], "id_b": ids[ci], "cos_sim": sims[qi, ci]}
                )
            )
        return pd.concat(frames) if frames else pd.DataFrame(
            {"id_a": [], "id_b": [], "cos_sim": []}
        )

    return bucketed.groupBy("bucket").applyInPandas(bucket_pairs, schema=out_schema)


def ivf_topk(
    df: DataFrame,
    id_column: str,
    vector_column: str,
    k: int = 5,
    num_cells: int = 16,
    centroids: str = "first_ids",
    seed: int = 42,
    nprobe: int = 1,
) -> DataFrame:
    """Approximate cosine top-k via IVF (inverted-file) coarse
    quantization, the standard ANN scale path alongside LSH.

    ``centroids`` picks the coarse quantizer:
    - ``"first_ids"`` (default): the ``num_cells`` vectors with the
      smallest ids — deterministic and SQL-mirrorable, so the oracle
      contract holds; recall quality is arbitrary.
    - ``"kmeans"``: MLlib KMeans cluster centers under ``seed`` — the
      production-recall choice; the distributed training is one MLlib
      job and everything downstream (assignment, cell shuffle, per-cell
      BLAS) is unchanged. Cell ids become the 0-based cluster indices.

    Every vector is a MEMBER of its nearest centroid's cell (rounded
    cosine, ties to the smallest centroid id); as a QUERY it probes its
    ``nprobe`` nearest cells and ranks candidates by (cos_sim desc,
    id). ``nprobe=1`` (default) is the classic single-probe IVF;
    raising it is the standard recall knob — candidates grow ~linearly
    while the per-cell work shape stays identical.

    Physical plan: centroids broadcast; assignment is one Arrow batch
    matmul per partition (each vector emits ``nprobe`` probe rows, the
    first doubling as its membership row); candidate generation
    shuffles by cell id so each cell's members are co-located, then one
    BLAS matmul per cell group. With ``nprobe>1`` a final
    ``Window.partitionBy(query)`` top-k merges the per-cell candidate
    lists — one extra shuffle on query id, still never all-pairs.
    At 100 TB the cells ARE the partitioning.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    if centroids == "kmeans":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feats = df.select(
            array_to_vector(F.col(vector_column).cast("array<double>")).alias(
                "features"
            )
        )
        model = KMeans(k=num_cells, seed=seed, featuresCol="features").fit(feats)
        cent_mat = np.vstack([np.asarray(c) for c in model.clusterCenters()]).astype(
            np.float64
        )
        cent_ids = np.arange(cent_mat.shape[0])
    elif centroids == "first_ids":
        # Catalyst compiles orderBy+limit into TakeOrderedAndProject —
        # per-partition top-num_cells then a driver merge of num_cells
        # rows per partition, NOT a global sort; verified via .explain().
        cent_pd = (
            df.select(id_column, vector_column)
            .orderBy(id_column)
            .limit(num_cells)
            .toPandas()
        )
        cent_ids = cent_pd[id_column].to_numpy()
        cent_mat = np.vstack(cent_pd[vector_column].to_numpy()).astype(np.float64)
    else:
        raise ValueError(f"centroids must be first_ids|kmeans, got {centroids!r}")
    cent_norm = np.linalg.norm(cent_mat, axis=1)
    bc = spark.sparkContext.broadcast((cent_ids, cent_mat, cent_norm))

    id_type = df.schema[id_column].dataType.simpleString()
    vec_type = df.schema[vector_column].dataType.simpleString()
    # kmeans cells are 0-based cluster indices (long); first_ids cells
    # reuse the centroid vector's id, whatever type that is.
    cell_type = "bigint" if centroids == "kmeans" else id_type
    assigned_schema = (
        f"{id_column} {id_type}, {vector_column} {vec_type}, cell {cell_type}"
        + (", is_member boolean" if nprobe > 1 else "")
    )

    def assign(batches):
        ids_c, mat_c, norm_c = bc.value
        id_order = np.argsort(ids_c, kind="stable")
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q_mat = np.vstack(pdf[vector_column].to_numpy()).astype(np.float64)
            q_norm = np.linalg.norm(q_mat, axis=1)
            sims = _round_half_up((q_mat @ mat_c.T) / np.outer(q_norm, norm_c), 6)
            # vectorized top-nprobe by (sim desc, centroid id asc):
            # with columns pre-sorted by centroid id, _top_cols's index
            # tie-break is the id tie-break — no per-row Python loop,
            # and no full argsort over thousands of cells
            sims_ord = sims[:, id_order]
            order = _top_cols(sims_ord, min(nprobe, sims_ord.shape[1]))
            if nprobe == 1:
                out = pdf[[id_column, vector_column]].copy()
                out["cell"] = ids_c[id_order[order[:, 0]]]
                yield out
                continue
            frames = []
            for p in range(min(nprobe, order.shape[1])):
                out = pdf[[id_column, vector_column]].copy()
                out["cell"] = ids_c[id_order[order[:, p]]]
                out["is_member"] = p == 0  # first probe = home cell
                frames.append(out)
            yield pd.concat(frames)

    assigned = df.select(id_column, vector_column).mapInPandas(
        assign, schema=assigned_schema
    )

    topk_schema = f"query_id {id_type}, neighbor_id {id_type}, cos_sim double"

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"query_id": [], "neighbor_id": [], "cos_sim": []})
        if nprobe > 1:
            members = pdf[pdf["is_member"]]
            if len(members) == 0:  # cell is only ever probed, never home
                return empty
        else:
            members = pdf
        m_ids = members[id_column].to_numpy()
        m_mat = np.vstack(members[vector_column].to_numpy()).astype(np.float64)
        m_nrm = np.linalg.norm(m_mat, axis=1)
        q_ids = pdf[id_column].to_numpy()
        q_mat = np.vstack(pdf[vector_column].to_numpy()).astype(np.float64)
        q_nrm = np.linalg.norm(q_mat, axis=1)
        sims = _round_half_up((q_mat @ m_mat.T) / np.outer(q_nrm, m_nrm), 6)
        out_q, out_n, out_s = _topk_rows(q_ids, m_ids, sims, k)
        return pd.DataFrame(
            {"query_id": out_q, "neighbor_id": out_n, "cos_sim": out_s}
        )

    local = assigned.groupBy("cell").applyInPandas(cell_topk, schema=topk_schema)
    if nprobe == 1:
        return local
    # merge each query's per-cell candidate lists (a neighbor is a
    # member of exactly one cell, so no duplicate pairs exist)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        local.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )


def lsh_topk(
    df: DataFrame,
    id_column: str,
    vector_column: str,
    k: int = 5,
    num_planes: int = 8,
    dim: int | None = None,
    seed: int = 42,
    plane_family: str = "gauss",
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH buckets.

    Candidates are restricted to same-bucket vectors (expected n/2^p
    per bucket) — the scale path for ANN when brute force is too big.
    Hyperplanes are seeded and deterministic. Recall < 1 by design;
    exactness is the brute-force baseline's job.

    Physical plan (same shape as :func:`ivf_topk`): the tiny plane
    matrix is rebuilt deterministically inside each task (seeded, sized
    to the embedding width of the first Arrow batch), bucket assignment
    is one sign-of-matmul per batch, then a shuffle on bucket id
    co-locates each bucket and
    one BLAS matmul per bucket group ranks its candidates. Nothing is
    ever all-pairs, and no per-element lambda runs on the pair stream —
    an earlier expression-based form (interpreted ``zip_with`` dot per
    candidate pair) was ~20× slower at sf0.1.
    """
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_column].dataType.simpleString()
    vec_type = df.schema[vector_column].dataType.simpleString()
    bucketed_schema = (
        f"{id_column} {id_type}, {vector_column} {vec_type}, bucket long"
    )

    def assign(batches):
        p = None
        weights = 1 << np.arange(num_planes, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf[vector_column].to_numpy()).astype(np.float64)
            if p is None:
                p = _seeded_planes(
                    seed, num_planes, mat.shape[1], dim,
                    vector_column, family=plane_family,
                )
            # 6dp stabilization before the sign test: numpy's BLAS
            # summation order differs from a SQL replay's sequential
            # list_sum, so a dot within ~1 ulp of 0 could otherwise
            # flip a bucket bit between engines
            bits = _round_half_up(mat @ p.T, 6) >= 0
            out = pdf[[id_column, vector_column]].copy()
            out["bucket"] = bits @ weights
            yield out

    bucketed = df.select(id_column, vector_column).mapInPandas(
        assign, schema=bucketed_schema
    )

    topk_schema = f"query_id {id_type}, neighbor_id {id_type}, cos_sim double"

    def bucket_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_column].to_numpy()
        mat = np.vstack(pdf[vector_column].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(mat, axis=1)
        sims = _round_half_up((mat @ mat.T) / np.outer(nrm, nrm), 6)
        out_q, out_n, out_s = _topk_rows(ids, ids, sims, k)
        return pd.DataFrame(
            {"query_id": out_q, "neighbor_id": out_n, "cos_sim": out_s}
        )

    return bucketed.groupBy("bucket").applyInPandas(bucket_topk, schema=topk_schema)


def scalar_quantize_error(
    df: DataFrame,
    id_column: str,
    vector_column: str,
    bits: int = 8,
) -> DataFrame:
    """Per-vector reconstruction error of uniform scalar quantization —
    the compression audit run before shipping an int8/int4 vector index
    (FAISS ``SQ8``-style): each dimension is linearly mapped onto
    ``2**bits - 1`` levels between its global min and max, and the
    output reports how much cosine geometry the compressed codes keep.

    Plan: one posexplode pass computes per-dimension min/max (shuffle
    keyed on dimension index — cardinality = embedding width, trivially
    small), ``array_sort(collect_list(struct))`` folds those into ONE
    broadcast row of lo/hi arrays (never a driver collect), and the
    quantize → reconstruct → cosine chain is pure higher-order-function
    expressions under the cross-joined broadcast — codegen'd, zero
    Python, linear in corpus size. Output:
    (id, cos_recon ×1e-6, mse ×1e-8).
    """
    levels = (1 << bits) - 1
    vec = F.col(vector_column)
    dims = df.select(F.posexplode(vector_column).alias("dim", "x"))
    stats = dims.groupBy("dim").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    arrs = stats.agg(
        F.array_sort(
            F.collect_list(F.struct("dim", "lo", "hi"))
        ).alias("_s")
    ).select(
        F.transform("_s", lambda s: s["lo"]).alias("_lo"),
        F.transform("_s", lambda s: s["hi"]).alias("_hi"),
    )
    recon_expr = (
        f"transform({vector_column}, (x, i) -> CASE WHEN _hi[i] > _lo[i] "
        f"THEN _lo[i] + round((x - _lo[i]) / (_hi[i] - _lo[i]) * {levels}) "
        f"/ {levels} * (_hi[i] - _lo[i]) ELSE _lo[i] END)"
    )
    quantized = df.crossJoin(F.broadcast(arrs)).withColumn(
        "_recon", F.expr(recon_expr)
    )
    dotp = F.aggregate(
        F.zip_with(vec, F.col("_recon"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x
    )
    err = F.aggregate(
        F.zip_with(vec, F.col("_recon"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return quantized.select(
        F.col(id_column),
        F.round(dotp / (F.sqrt(sq(vec)) * F.sqrt(sq(F.col("_recon")))), 6).alias(
            "cos_recon"
        ),
        F.round(err / F.size(vec), 8).alias("mse"),
    )


def random_projection_distortion(
    df: DataFrame,
    id_column: str,
    vector_column: str,
    out_dim: int = 16,
    in_dim: int | None = None,
    seed: str = "rp",
) -> DataFrame:
    """Johnson–Lindenstrauss ±1 random-projection audit: project every
    embedding to ``out_dim`` dims with a deterministic sign matrix
    (sign(j,i) = parity of the first hex digit of md5('seed#j#i')) and
    report per-vector norm distortion ``‖Px‖² / (out_dim·‖x‖²)``
    (expectation 1 under JL) — the measurement a pipeline runs before
    swapping full-width embeddings for compressed ones in ANN.

    Plan: the sign matrix is built DRIVER-SIDE (out_dim × in_dim
    literals — data-independent, so no md5 in the per-row hot path)
    and folded into nested zip_with/aggregate expressions: scan-only,
    zero shuffle, zero Python per row. The oracle recomputes the same
    signs from md5 in SQL, so the projection itself is value-checked.
    ``in_dim`` is inferred from the data when not given (one scalar
    aggregate), and mismatched vector widths raise before any task
    runs work on them.
    """
    if in_dim is None:
        probe = df.agg(
            F.min(F.size(vector_column)).alias("lo"),
            F.max(F.size(vector_column)).alias("hi"),
        ).first()
        if probe is None or probe["lo"] is None:
            in_dim = 0
        elif probe["lo"] != probe["hi"]:
            raise ValueError(
                f"ragged {vector_column!r} widths "
                f"[{probe['lo']}, {probe['hi']}]; pass in_dim explicitly"
            )
        else:
            in_dim = int(probe["lo"])

    rows = [
        F.array(*[F.lit(_md5_sign(f"{seed}#{j}#{i}")) for i in range(in_dim)])
        for j in range(out_dim)
    ]
    matrix = F.array(*rows) if rows else F.array().cast("array<array<double>>")
    vec = F.transform(F.col(vector_column), lambda x: x.cast("double"))
    proj = F.transform(
        matrix,
        lambda row: F.aggregate(
            F.zip_with(vec, row, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    sq_sum = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x
    )
    n2 = sq_sum(vec)
    p2 = sq_sum(proj)
    return df.select(
        F.col(id_column),
        F.round(F.sqrt(n2), 6).alias("norm_in"),
        F.when(n2 > 0, F.round(p2 / (F.lit(float(out_dim)) * n2), 6)).alias(
            "distortion"
        ),
    )


def _lloyd_init_ids(df: DataFrame, id_column: str, k: int, seed: int):
    """Bottom-k md5('kmeans#id#seed') rows, numbered 0..k-1 in rank
    order — the deterministic-init contract SHARED by kmeans_lloyd and
    pq_train_encode (single-sourced so the md5 key format and rank
    tie-break can never drift between the two)."""
    rank_key = F.md5(
        F.concat_ws(
            "#", F.lit("kmeans"), F.col(id_column).cast("string"),
            F.lit(str(seed)),
        )
    )
    return (
        df.select(F.col(id_column).alias("_cid"), rank_key.alias("_r"))
        .orderBy("_r")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("_r")) - 1).alias("cluster"),
            "_cid",
        )
    )


def _lloyd_expr_assign(
    dims: DataFrame, cent: DataFrame, id_column: str, extra: tuple = ()
) -> DataFrame:
    """Exact-decimal expr E-step shared by kmeans_lloyd and
    pq_train_encode: exploded dims × BROADCAST centroids, squared-L2
    via order-independent decimal(30,10) sums cast to double at the
    end, argmin tie-break to the smallest cluster id. ``extra`` adds
    grouping columns (pq's subspace) to every key."""
    d2 = (
        dims.join(F.broadcast(cent), on=[*extra, "dim"])
        .groupBy(id_column, *extra, "cluster")
        .agg(
            F.sum(
                ((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))
                .cast("decimal(30,10)")
            )
            .cast("double")
            .alias("_d2")
        )
    )
    wmin = Window.partitionBy(id_column, *extra).orderBy("_d2", "cluster")
    return (
        d2.withColumn("_rk", F.row_number().over(wmin))
        .where(F.col("_rk") == 1)
        .select(id_column, *extra, "cluster", "_d2")
    )


def _lloyd_mstep(
    dims: DataFrame,
    assign: DataFrame,
    id_column: str,
    extra: tuple = (),
    round_decimals: int = 6,
) -> DataFrame:
    """M-step mean via the exact-decimal sum (order-independent, NOT
    F.avg), rounded to ``round_decimals`` so the next round's
    comparisons see identical inputs on any engine — shared by
    kmeans_lloyd and pq_train_encode."""
    return (
        dims.join(
            assign.select(id_column, *extra, "cluster"),
            on=[id_column, *extra],
        )
        .groupBy(*extra, "cluster", "dim")
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(30,10)")).cast("double")
                / F.count(F.lit(1)),
                round_decimals,
            ).alias("c")
        )
    )


def kmeans_lloyd(
    df: DataFrame,
    id_column: str,
    vector_column: str,
    k: int,
    iterations: int = 2,
    seed: int = 5,
    round_decimals: int = 6,
    assignment: str = "blas",
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means with a FIXED iteration count and deterministic
    md5-rank init (the k vectors with the smallest md5('kmeans#id#seed')
    seed the clusters, numbered 0..k-1 in rank order) — the same
    no-convergence-threshold contract as operators.graph.pagerank, so
    an oracle can unroll the exact rounds in SQL CTEs. Deliberate
    sibling of :func:`ivf_topk`'s ``centroids="kmeans"`` MLlib path:
    MLlib is the convergence-driven library quantizer; this one
    trades convergence control for bit-replayability (em14) and
    layout-independence.

    Per round: E-step = exploded-dims join against the BROADCAST k×d
    centroid table, squared-L2 via order-independent decimal sums
    (em7's pattern), argmin by (distance, cluster); M-step = per-dim
    means of the assigned vectors, ROUNDED to ``round_decimals`` so
    the next round's comparisons see identical inputs on any engine.
    The vector side never shuffles for the assignment (centroids are
    k×d — broadcastable for any practical k·d); the M-step is one
    exchange keyed on cluster. The dims projection persists across
    rounds; centroid tables localCheckpoint per round so lineage stays
    flat (the pagerank/dedup loop discipline). A cluster that loses
    every vector drops out (standard Lloyd behavior, deterministic on
    both engines).

    Returns ``(assignments, centroids)``: (id, cluster, _d2) from the
    final E-step and the k×d centroid table after the final M-step.

    ``assignment`` picks the E-step physical path:

    - ``"blas"`` (default — the throughput path): one Arrow-batched
      ``mapInPandas`` pass per E-step — each batch computes all k
      distances in a single numpy matmul (|x|² − 2XCᵀ + |c|²),
      centroids riding along as a k×d literal (the ivf_topk centroid
      pattern; k·d doubles, never row data). ~10× less shuffled data
      at scale (measured 63s → 8.5s at 200k×16); distances are
      float64 matmul sums instead of decimal-exact, so assignments
      can differ from "blas" only on near-exact ties.
    - ``"expr"`` (oracle-parity flag): exploded dims × broadcast
      centroids with decimal-exact distance sums — bit-replayable in
      SQL CTEs (em14 pins it explicitly), at the cost of
      materializing rows × k × d join rows per E-step. Use it when
      replaying against an oracle; "blas" everywhere else. argmin
      ties break to the smallest cluster id on both paths (a parity
      test pins identical assignments on separated data).
    """
    if assignment not in ("expr", "blas"):
        raise ValueError(f"unknown assignment path: {assignment!r}")
    if int(iterations) < 1:
        raise ValueError("iterations must be >= 1 (no assignment exists before the first E-step)")
    dims = df.select(
        F.col(id_column),
        F.posexplode(
            F.transform(vector_column, lambda x: x.cast("double"))
        ).alias("dim", "x"),
    ).persist()
    init_ids = _lloyd_init_ids(df, id_column, k, seed)
    cent = (
        dims.join(F.broadcast(init_ids), dims[id_column] == F.col("_cid"))
        .select("cluster", "dim", F.col("x").alias("c"))
        .localCheckpoint()
    )
    id_type = dict(df.dtypes)[id_column]
    vec_df = df.select(
        F.col(id_column),
        F.transform(vector_column, lambda x: x.cast("double")).alias("_vec"),
    )

    def _estep_blas(cent_df: DataFrame) -> DataFrame:
        import numpy as np
        import pandas as pd

        rows = cent_df.collect()  # k×d scalars — never row data
        if not rows:
            # empty input → no centroids → nothing to assign (the expr
            # path reaches the same empty frame through its join)
            return vec_df.limit(0).select(
                F.col(id_column),
                F.lit(None).cast("int").alias("cluster"),
                F.lit(None).cast("double").alias("_d2"),
            )
        ks = sorted({r["cluster"] for r in rows})
        d = 1 + max(r["dim"] for r in rows)
        kmap = {c: i for i, c in enumerate(ks)}
        cmat = np.zeros((len(ks), d))
        for r in rows:
            cmat[kmap[r["cluster"]], r["dim"]] = r["c"]
        cl = np.array(ks, dtype=np.int32)
        c_sq = (cmat * cmat).sum(1)

        def estep(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                x = np.array([list(v) for v in pdf["_vec"]], dtype=np.float64)
                d2 = np.maximum(
                    (x * x).sum(1)[:, None] - 2.0 * (x @ cmat.T) + c_sq[None, :],
                    0.0,
                )
                j = d2.argmin(1)  # first min = smallest cluster id (ks sorted)
                yield pd.DataFrame(
                    {
                        id_column: pdf[id_column],
                        "cluster": cl[j],
                        "_d2": d2[np.arange(len(j)), j],
                    }
                )

        return vec_df.mapInPandas(
            estep, schema=f"{id_column} {id_type}, cluster int, _d2 double"
        )

    assign = None
    for _ in range(int(iterations)):
        if assignment == "blas":
            assign = _estep_blas(cent).localCheckpoint()
        else:
            assign = _lloyd_expr_assign(
                dims, cent, id_column
            ).localCheckpoint()
        # M-step: see _lloyd_mstep — exact-decimal rounded mean, the
        # same engine-reproducibility contract as the E-step sums.
        cent = _lloyd_mstep(
            dims, assign, id_column, round_decimals=round_decimals
        ).localCheckpoint()
    dims.unpersist()
    return assign, cent


def pq_train_encode(
    df: DataFrame,
    id_column: str,
    vector_column: str,
    subspaces: int = 2,
    k: int = 4,
    iterations: int = 2,
    train_limit: int | None = None,
    seed: int = 7,
) -> tuple[DataFrame, DataFrame]:
    """Product quantization (Jégou, Douze & Schmid, TPAMI 2011 —
    "Product Quantization for Nearest Neighbor Search"): split every
    vector into ``subspaces`` equal slices, train an independent
    k-codeword codebook per slice with the deterministic Lloyd
    contract of :func:`kmeans_lloyd` (md5-rank init, exact-decimal
    E-step distances, 6dp-rounded M-steps — bit-replayable in SQL),
    and encode each vector as its per-slice nearest codeword. The
    m·k·(d/m) codebook replaces the full vector table for distance
    work: asymmetric distance (ADC) against any query needs only a
    query-side k×m lookup table plus the code columns — the memory
    layout every large-scale ANN index (FAISS-style IVF-PQ) builds on.

    Returns ``(codes, codebooks)``:

    - codes: (id, subspace, code, _d2sub) — one row per vector per
      subspace, ``_d2sub`` the exact-decimal squared distance to the
      chosen codeword (sums to the vector's total quantization error).
    - codebooks: (subspace, cluster, dim, c) — subspace-LOCAL dim
      index (0..d/m-1), centroid components rounded to 6dp.

    ``train_limit`` bounds codebook training to the bottom-N vectors
    by md5('pqtrain#'||id) rank (deterministic, value-independent) —
    the standard PQ practice of training on a sample while ENCODING
    the full corpus; the encode pass always covers every input row.

    Scale shape: ALL subspace codebooks train in ONE joint E/M job
    chain — the training dims carry a subspace column, every E-step is
    a single broadcast join keyed on (subspace, dim) and every M-step
    one exchange keyed on (subspace, cluster), so driver roundtrips
    stay O(iterations) no matter how many subspaces (m sequential
    kmeans calls would pay m× the fixed per-job cost — at m=16 that
    dominates). Encoding joins exploded slice dims against the
    BROADCAST codebook (the vector side never shuffles) and argmins
    per (id, subspace). Init seeds every subspace from the SAME
    bottom-k md5('kmeans#id#seed') ids of the training sample — the
    per-subspace replay (em14's CTE pattern sliced per subspace)
    therefore unrolls independently in SQL.
    """
    if subspaces < 1:
        raise ValueError("subspaces must be >= 1")
    first = df.select(F.size(vector_column).alias("d")).first()
    if first is None:
        raise ValueError("cannot train product quantizer on an empty input")
    d = int(first["d"])
    if d % subspaces != 0:
        raise ValueError(
            f"vector width {d} not divisible into {subspaces} subspaces"
        )
    width = d // subspaces
    train = df
    if train_limit is not None:
        rank = F.md5(
            F.concat_ws(
                "#", F.lit("pqtrain"), F.col(id_column).cast("string")
            )
        )
        train = (
            df.withColumn("_tr", rank)
            .orderBy("_tr", id_column)
            .limit(int(train_limit))
            .drop("_tr")
        )

    def _sliced_dims(frame: DataFrame) -> DataFrame:
        return frame.select(
            F.col(id_column),
            F.posexplode(
                F.transform(vector_column, lambda x: x.cast("double"))
            ).alias("_gdim", "x"),
        ).select(
            F.col(id_column),
            F.floor(F.col("_gdim") / width).cast("int").alias("subspace"),
            (F.col("_gdim") % width).alias("dim"),
            "x",
        )

    tdims = _sliced_dims(train).persist()
    # Same init / E-step / M-step engine as kmeans_lloyd's expr path
    # (_lloyd_* helpers), with "subspace" added to every key — ALL
    # codebooks advance through one shared job chain per iteration.
    init_ids = _lloyd_init_ids(train, id_column, k, seed)
    cent = (
        tdims.join(F.broadcast(init_ids), tdims[id_column] == F.col("_cid"))
        .select("subspace", "cluster", "dim", F.col("x").alias("c"))
        .localCheckpoint()
    )
    sub = ("subspace",)
    for _ in range(int(iterations)):
        assign = _lloyd_expr_assign(tdims, cent, id_column, extra=sub)
        cent = _lloyd_mstep(
            tdims, assign, id_column, extra=sub
        ).localCheckpoint()
    tdims.unpersist()
    codes = (
        _lloyd_expr_assign(_sliced_dims(df), cent, id_column, extra=sub)
        .withColumnRenamed("cluster", "code")
        .withColumnRenamed("_d2", "_d2sub")
    )
    return codes, cent.select("subspace", "cluster", "dim", "c")


def ivfpq_adc_topk(
    df: DataFrame,
    id_column: str,
    vector_column: str,
    probe_predicate: Column,
    num_cells: int = 4,
    subspaces: int = 2,
    k_codes: int = 4,
    nprobe: int = 2,
    k: int = 5,
    train_limit: int | None = 400,
    coarse_seed: int = 11,
    pq_seed: int = 7,
) -> DataFrame:
    """IVF-PQ retrieval with asymmetric distance (Jégou, Douze &
    Schmid, TPAMI 2011 §IV — "inverted file with asymmetric distance
    computation", the FAISS IVFADC architecture): a coarse quantizer
    partitions the corpus into ``num_cells`` inverted lists, every
    vector is product-quantized on its RESIDUAL from its cell
    centroid, and a query scans only its ``nprobe`` nearest cells,
    ranking candidates through a per-(query, cell) lookup table of
    subspace distances — never touching a raw corpus vector.

    This composes the repo's three deterministic pieces end-to-end:
    :func:`kmeans_lloyd` (1 iteration, ``assignment="expr"``) trains
    the coarse centroids, a final :func:`_lloyd_expr_assign` E-step
    fixes cell membership, and :func:`pq_train_encode` codes the
    6dp-rounded residuals — every step keeps the exact-decimal /
    6dp-rounded arithmetic contract, so the WHOLE index (cells,
    codes, ADC values, ranking) replays in SQL (em17 pins it).

    Scale shape: the coarse centroid table is num_cells×d rows and
    the codebook m·k×(d/m) — both broadcast; corpus vectors never
    shuffle for assignment or encoding beyond the per-id argmin
    exchanges, and the ADC scan joins CODE rows (m small ints per
    vector) against the probe LUT keyed on (cell, subspace, code).
    A query ranks ~nprobe/num_cells of the corpus moving ~1% of the
    raw vector bytes — the shape that holds at billions of vectors.
    This is the oracle-parity expr composition; the throughput
    variants of each stage (``kmeans_lloyd(assignment="blas")``,
    ivf_topk's Arrow-batch assignment) swap in without changing the
    index semantics.

    Returns (query_id, neighbor_id, adc, rk) with rk ≤ k ranked by
    (adc asc, neighbor_id) — self-matches included (a query in a
    probed cell ranks itself, typically at distance ≈ quantization
    error).
    """
    first = df.select(F.size(vector_column).alias("d")).first()
    if first is None:
        raise ValueError("cannot build an IVF-PQ index on an empty input")
    width = int(first["d"]) // subspaces
    # dims is a cheap exploded PROJECTION consumed by three independent
    # lazy branches (membership E-step, probe-cell ranking, probe
    # residuals); re-deriving it per branch beats pinning n×d rows in
    # cache that would outlive this builder (the returned plan is lazy).
    dims = df.select(
        F.col(id_column),
        F.posexplode(
            F.transform(vector_column, lambda x: x.cast("double"))
        ).alias("dim", "x"),
    )
    # Coarse quantizer: one Lloyd round from md5-rank seeds, then a
    # final E-step against the POST-M-step centroids so membership
    # matches what queries probe.
    _, cent = kmeans_lloyd(
        df, id_column, vector_column, k=num_cells,
        iterations=1, seed=coarse_seed, assignment="expr",
    )
    cent = cent.withColumnRenamed("cluster", "cell").localCheckpoint()
    member = (
        _lloyd_expr_assign(
            dims, cent.withColumnRenamed("cell", "cluster"), id_column
        )
        .select(id_column, F.col("cluster").alias("cell"))
        .localCheckpoint()
    )
    # Residual arrays: x - centroid, rounded to 6dp so the PQ stage
    # sees exact-decimal inputs on any engine.
    cent_arr = cent.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))),
            lambda s: s["c"],
        ).alias("_carr")
    )
    resid = (
        df.join(member, on=id_column)
        .join(F.broadcast(cent_arr), on="cell")
        .select(
            F.col(id_column),
            "cell",
            F.zip_with(
                F.transform(vector_column, lambda x: x.cast("double")),
                "_carr",
                lambda a, b: F.round(a - b, 6),
            ).alias("_resid"),
        )
        .localCheckpoint()
    )
    codes, _books = pq_train_encode(
        resid, id_column, "_resid", subspaces=subspaces, k=k_codes,
        iterations=1, train_limit=train_limit, seed=pq_seed,
    )
    # Probe side: rank cells by exact-decimal d2(query, centroid),
    # keep nprobe; the query's residual is PER PROBED CELL.
    qd = dims.where(probe_predicate).select(
        F.col(id_column).alias("q"), "dim", F.col("x").alias("qx")
    )
    qcd = (
        qd.join(F.broadcast(cent), on="dim")
        .groupBy("q", "cell")
        .agg(
            F.sum(
                ((F.col("qx") - F.col("c")) * (F.col("qx") - F.col("c")))
                .cast("decimal(30,10)")
            )
            .cast("double")
            .alias("_d2")
        )
    )
    w_cell = Window.partitionBy("q").orderBy("_d2", "cell")
    qcell = (
        qcd.withColumn("_rk", F.row_number().over(w_cell))
        .where(F.col("_rk") <= nprobe)
        .select("q", "cell")
    )
    qres = (
        qd.join(qcell, on="q")
        .join(F.broadcast(cent), on=["cell", "dim"])
        .select(
            "q", "cell",
            F.floor(F.col("dim") / width).cast("int").alias("subspace"),
            (F.col("dim") % width).alias("dim_s"),
            F.round(F.col("qx") - F.col("c"), 6).alias("rx"),
        )
    )
    books = _books.withColumnRenamed("dim", "dim_s")
    lut = (
        qres.join(F.broadcast(books), on=["subspace", "dim_s"])
        .groupBy("q", "cell", "subspace", "cluster")
        .agg(
            F.sum(
                ((F.col("rx") - F.col("c")) * (F.col("rx") - F.col("c")))
                .cast("decimal(30,10)")
            )
            .cast("double")
            .alias("lutd2")
        )
    )
    # ADC scan: candidate codes restricted to probed cells by the
    # (cell, subspace, code) join key — the inverted-list prune.
    cand = codes.select(id_column, "subspace", "code").join(
        member, on=id_column
    )
    adc = (
        cand.join(
            lut,
            (cand.cell == lut.cell)
            & (cand.subspace == lut.subspace)
            & (cand.code == lut.cluster),
        )
        .groupBy("q", id_column)
        .agg(F.sum("lutd2").alias("adc"))
    )
    w_adc = Window.partitionBy("q").orderBy("adc", id_column)
    out = (
        adc.withColumn("rk", F.row_number().over(w_adc))
        .where(F.col("rk") <= k)
        .select(
            F.col("q").alias("query_id"),
            F.col(id_column).alias("neighbor_id"),
            "adc",
            "rk",
        )
    )
    return out


def semdedup_pairs(
    df: DataFrame,
    id_column: str,
    vector_column: str,
    k: int = 4,
    threshold: float = 0.4,
    iterations: int = 1,
    seed: int = 5,
    assignment: str = "expr",
    max_cluster_size: int | None = None,
) -> DataFrame:
    """Semantic near-duplicate candidate pairs, SemDeDup-style (Abbas
    et al., 2023, arXiv:2303.09540 — "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication"): cluster
    the embedding corpus with k-means, then emit exact cosine pairs ≥
    ``threshold`` WITHIN each cluster only. The clusters bound the
    quadratic — no all-pairs stage exists; pairs straddling a cluster
    boundary are missed by design (the SemDeDup approximation; raise
    ``k`` with corpus size to keep expected cluster width constant,
    the paper runs 50k clusters at 5B docs).

    The coarse clustering uses :func:`kmeans_lloyd` under the
    deterministic md5-init contract, so with ``assignment="expr"``
    the cluster memberships — and therefore exactly which pairs are
    compared — replay in SQL (tx39 pins the full composition).
    Within a cluster, similarity is one BLAS matmul per Arrow group,
    rounded to 6dp (the em3 cross-engine cosine contract).

    ``max_cluster_size`` is the poisoned-corpus guard (the
    ngram_jaccard df-cap pattern): each cluster materializes as ONE
    applyInPandas group, so a skewed/hot cluster at small ``k`` could
    OOM its executor; with the cap set, clusters above it are dropped
    BEFORE the pair stage (no pairs emitted for them — a deliberate,
    deterministic recall cut on the hot cluster, mirroring the paper's
    advice to raise ``k`` instead of comparing inside a mega-cluster).

    Returns (id_a, id_b, cos_sim) with id_a < id_b.
    """
    import numpy as np
    import pandas as pd

    assign, _cent = kmeans_lloyd(
        df, id_column, vector_column, k=k, iterations=iterations,
        seed=seed, assignment=assignment,
    )
    feat = df.select(
        id_column,
        F.transform(vector_column, lambda x: x.cast("double")).alias("_v"),
    ).join(assign.select(id_column, "cluster"), on=id_column)
    if max_cluster_size is not None:
        if max_cluster_size < 1:
            raise ValueError("max_cluster_size must be >= 1")
        hot = (
            feat.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_cluster_size)
            .select("cluster")
        )
        feat = feat.join(hot, "cluster", "left_anti")

    id_type = dict(df.dtypes)[id_column]
    out_schema = f"id_a {id_type}, id_b {id_type}, cos_sim double"

    def cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_column].to_numpy()
        mat = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(mat, axis=1)
        frames = []
        for lo, sims in _matmul_chunks(mat, mat, nrm, nrm):
            qi, ci = np.nonzero(
                (sims >= threshold)
                & (ids[lo : lo + sims.shape[0], None] < ids[None, :])
            )
            frames.append(
                pd.DataFrame(
                    {
                        "id_a": ids[lo + qi],
                        "id_b": ids[ci],
                        "cos_sim": sims[qi, ci],
                    }
                )
            )
        return pd.concat(frames) if frames else pd.DataFrame(
            {"id_a": [], "id_b": [], "cos_sim": []}
        )

    return feat.groupBy("cluster").applyInPandas(
        cluster_pairs, schema=out_schema
    )


def sign_signatures(
    df: DataFrame,
    id_column: str,
    vector_column: str,
    num_planes: int = 32,
    seed: int = 7,
    prefix: str = "ham",
    method: str = "matmul",
) -> DataFrame:
    """Binary embedding signatures by random-hyperplane sign hashing
    (Charikar, STOC 2002 — the SimHash construction applied to dense
    vectors): project every vector onto ``num_planes`` md5-sign
    hyperplanes and pack the sign bits into ONE long. Hamming distance
    between signatures estimates the angle (E[ham]/planes = θ/π), so
    a 32-bit signature replaces a 64-float vector for coarse ranking —
    the 30×-smaller scan every binary-hashing ANN system builds on.

    Determinism contract: plane entries are ±1 from md5 first-hex-digit
    parity (the :func:`_md5_sign` convention, key
    ``'{prefix}{seed}#{plane}#{dim}'``), projections are ROUNDED to
    6dp before the sign test (em2's contract), and the packed weight
    is 2^plane — every signature replays bit-for-bit in SQL (em18
    pins it).

    ``method`` picks the physical path (the kmeans_lloyd policy — the
    throughput path is the DEFAULT, oracle parity is the flag):

    - ``"matmul"`` (default): one Arrow-batched mapInPandas pass —
      each batch computes all plane projections in a single numpy
      matmul against the ±1 plane matrix (num_planes×d doubles,
      shipped as a literal), rounds 6dp, signs, packs. Zero shuffle,
      measured ~50× faster at 500k×16 than the expr path.
    - ``"expr"``: exploded dims × broadcast plane table with
      exact-decimal projection sums — the bit-replayable SQL mirror
      (em18 uses it). Paths agree exactly unless a projection lands
      on a 6dp rounding boundary (a parity test pins agreement).

    Output: (id, sig).
    """
    if not 1 <= int(num_planes) <= 62:
        raise ValueError("num_planes must be in [1, 62] to pack into a long")
    if method not in ("matmul", "expr"):
        raise ValueError(f"method must be matmul|expr, got {method!r}")
    width = _vector_width(df, vector_column)
    if method == "matmul":
        import numpy as np
        import pandas as pd

        pm = np.array(
            [
                [_md5_sign(f"{prefix}{seed}#{j}#{i}") for i in range(width)]
                for j in range(int(num_planes))
            ]
        )
        weights = (1 << np.arange(int(num_planes), dtype=np.int64))
        id_type = dict(df.dtypes)[id_column]

        def pack(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
                bits = _round_half_up(mat @ pm.T, 6) >= 0
                yield pd.DataFrame(
                    {id_column: pdf[id_column], "sig": bits @ weights}
                )

        return df.select(
            F.col(id_column),
            F.transform(vector_column, lambda x: x.cast("double")).alias(
                "_v"
            ),
        ).mapInPandas(pack, schema=f"{id_column} {id_type}, sig long")
    spark = df.sparkSession
    planes = spark.createDataFrame(
        [
            (j, i, _md5_sign(f"{prefix}{seed}#{j}#{i}"), 1 << j)
            for j in range(int(num_planes))
            for i in range(width)
        ],
        "j int, dim int, s double, w long",
    )
    dims = df.select(
        F.col(id_column),
        F.posexplode(
            F.transform(vector_column, lambda x: x.cast("double"))
        ).alias("dim", "x"),
    )
    proj = (
        dims.join(F.broadcast(planes), on="dim")
        .groupBy(id_column, "j", "w")
        .agg(
            F.round(
                F.sum((F.col("x") * F.col("s")).cast("decimal(30,10)"))
                .cast("double"),
                6,
            ).alias("p")
        )
    )
    return proj.groupBy(id_column).agg(
        F.sum(F.when(F.col("p") >= 0, F.col("w")).otherwise(F.lit(0))).alias(
            "sig"
        )
    )


def mmr_rerank(
    corpus: DataFrame,
    id_column: str,
    vector_column: str,
    queries: DataFrame,
    k_candidates: int = 8,
    select_k: int = 3,
    lam: float = 0.5,
    round_decimals: int = 6,
    num_blocks: int | None = None,
) -> DataFrame:
    """Maximal-marginal-relevance diversified re-ranking: after a
    brute-force :func:`cosine_topk` probe retrieves ``k_candidates``
    per query, greedily select ``select_k`` of them maximizing
    ``lam·rel(c) − (1−lam)·max_sim(c, selected)`` — the standard
    redundancy-suppression stage between retrieval and a RAG prompt
    (Carbonell & Goldstein 1998). Beyond-reference LLM-pipeline
    surface beside em15's plain top-k.

    Scale shape: the corpus is touched ONCE by the top-k probe; every
    later stage operates on the bounded candidate table (≤ Q·k rows)
    and its pairwise-sim table (≤ Q·k² rows), all keyed on query_id —
    the selection rounds are Q-parallel argmax windows, unrolled
    ``select_k−1`` times with no data-dependent iteration. Candidate
    relevance comes from cosine_topk's 6dp contract; candidate-pair
    sims use the same expr cosine rounded to ``round_decimals``, so
    every comparison sees engine-identical doubles and the greedy
    trajectory is bit-replayable in SQL (em19 pins it). Ties break to
    the smaller neighbor_id at every argmax.

    Note: ``1.0 − lam`` is computed HERE, in Python — an oracle must
    mirror it as the same float expression, not a re-typed decimal
    literal (the q69 pagerank rule). Default lam=0.5 is exact either
    way.

    PRECONDITION on ``lam`` for display-tie parity: the tie-safe
    decimal reconstruction of ``mmr_score`` assumes ``lam`` (and so
    ``1−lam``) has at most ONE fractional decimal digit (0.5, 0.3,
    0.7, …) — then the true score of ``round_decimals``-dp inputs is
    itself a ``(round_decimals+1)``-dp decimal and the
    double→decimal cast recovers it exactly. For any other ``lam``
    (0.25, 1/3, …) that identity fails and the cast itself would sit
    on engine-divergent cast-rounding, so the operator GATES the
    decimal path on the precondition and otherwise rounds the raw
    double — correct values, but exact 7th-digit-5 display ties may
    then differ between Spark (HALF_UP) and a replaying engine.

    Output: (query_id, sel_rank 1..select_k, neighbor_id, mmr_score)
    where sel_rank is the greedy pick order and mmr_score the
    objective value at pick time (rank-1 score = lam·rel).
    """
    if select_k < 1 or select_k > k_candidates:
        raise ValueError("need 1 <= select_k <= k_candidates")
    mu = 1.0 - lam
    cand = cosine_topk(
        corpus, id_column, vector_column, k=k_candidates, queries=queries,
        num_blocks=num_blocks,
    ).localCheckpoint()
    vec = corpus.select(
        F.col(id_column).alias("_vid"),
        F.transform(vector_column, lambda x: x.cast("double")).alias("_ve"),
    )
    cv = cand.join(vec, cand.neighbor_id == F.col("_vid")).select(
        "query_id", "neighbor_id", "_ve"
    )
    a = cv.select(
        "query_id",
        F.col("neighbor_id").alias("a_id"),
        F.col("_ve").alias("a_e"),
    )
    b = cv.select(
        "query_id",
        F.col("neighbor_id").alias("b_id"),
        F.col("_ve").alias("b_e"),
    )
    pair = (
        a.join(b, on="query_id")
        .where(F.col("a_id") != F.col("b_id"))
        .select(
            "query_id",
            "a_id",
            "b_id",
            F.round(
                cosine(F.col("a_e"), F.col("b_e")), round_decimals
            ).alias("sim"),
        )
        .localCheckpoint()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_score").desc(), "neighbor_id"
    )
    first = (
        cand.withColumn("_score", F.lit(lam) * F.col("cos_sim"))
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            "query_id",
            "neighbor_id",
            F.lit(1).alias("sel_rank"),
            "_score",
        )
    )
    out = first
    selected = first.select(
        "query_id", F.col("neighbor_id").alias("sel_id")
    )
    for t in range(2, select_k + 1):
        rem = cand.join(
            selected.withColumnRenamed("sel_id", "neighbor_id"),
            on=["query_id", "neighbor_id"],
            how="left_anti",
        )
        pen = (
            pair.alias("p")
            .join(
                selected.alias("s"),
                (F.col("p.query_id") == F.col("s.query_id"))
                & (F.col("p.b_id") == F.col("s.sel_id")),
                "left_semi",
            )
            .groupBy("query_id", "a_id")
            .agg(F.max("sim").alias("_pen"))
        )
        nxt = (
            rem.join(
                pen,
                (rem["query_id"] == pen["query_id"])
                & (rem["neighbor_id"] == pen["a_id"]),
            )
            .select(
                rem["query_id"],
                rem["neighbor_id"],
                (
                    F.lit(lam) * F.col("cos_sim")
                    - F.lit(mu) * F.col("_pen")
                ).alias("_score"),
            )
            .withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1)
            .select(
                "query_id",
                "neighbor_id",
                F.lit(t).alias("sel_rank"),
                "_score",
            )
        )
        out = out.unionByName(nxt)
        selected = selected.unionByName(
            nxt.select("query_id", F.col("neighbor_id").alias("sel_id"))
        )
    # Display rounding goes THROUGH a decimal reconstruction at one
    # extra digit: with half-digit lam (the 0.5 default) the true
    # score of round_decimals-dp inputs IS a (round_decimals+1)-dp
    # decimal, and the greedy doubles sit within ~1 ulp of it — the
    # cast recovers it exactly, and decimal ROUND is half-up on BOTH
    # engines. Rounding the raw double instead flips on exact
    # 7th-digit-5 ties (Spark half-up vs DuckDB's float round — found
    # by the round-11 full sf0.1 gate), and with lam=0.5 such ties
    # are structural: every odd last digit of (rel − penalty) makes
    # one. Gated on the docstring precondition: lam with >1
    # fractional digit makes the true score finer than
    # (round_decimals+1)-dp, so the cast would be the divergence.
    from decimal import Decimal

    lam_1dp = -Decimal(repr(lam)).normalize().as_tuple().exponent <= 1
    if lam_1dp:
        disp = F.round(
            F.col("_score").cast(f"decimal(27,{round_decimals + 1})"),
            round_decimals,
        ).cast("double")
    else:
        disp = F.round(F.col("_score"), round_decimals)
    return out.select(
        "query_id",
        "sel_rank",
        "neighbor_id",
        disp.alias("mmr_score"),
    )


def ivf_ingest(
    base: DataFrame,
    delta: DataFrame,
    id_column: str,
    vector_column: str,
    k: int = 4,
    seed: int = 11,
    round_decimals: int = 6,
) -> tuple[DataFrame, DataFrame]:
    """Incremental IVF index maintenance — the ANN sibling of q86's
    materialized-view merge: a NEW vector batch (``delta``) is folded
    into an existing inverted-file index WITHOUT rescanning or
    retraining on the base corpus. Centroids are FROZEN (md5-rank
    seed vectors drawn from base — :func:`_lloyd_init_ids`, the
    kmeans/pq init contract); base and delta are assigned separately
    through the exact-decimal E-step (:func:`_lloyd_expr_assign`),
    and the per-cluster (count, per-dim decimal sum) partials merge
    with one coalesce full-outer join. Because the sums are exact
    decimals, base+delta partials are BIT-EQUAL to a one-pass
    recompute over the union — the algebraic identity an oracle
    verifies (em20), and the property that makes the 100-TB refresh
    a delta-sized job: the base partials are a stored k×d-row table,
    only the batch is scanned and assigned per ingest.

    Returns ``(counts, centroids)``: per-cluster (cluster, n_base,
    n_delta) and the updated k×d mean table (cluster, dim, c_upd)
    rounded to ``round_decimals``.
    """

    def dims_of(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_column),
            F.posexplode(
                F.transform(vector_column, lambda x: x.cast("double"))
            ).alias("dim", "x"),
        )

    bdims = dims_of(base).persist()
    ddims = dims_of(delta).persist()
    init_ids = _lloyd_init_ids(base, id_column, k, seed)
    cent = (
        bdims.join(F.broadcast(init_ids), bdims[id_column] == F.col("_cid"))
        .select("cluster", "dim", F.col("x").alias("c"))
        .localCheckpoint()
    )
    ab = _lloyd_expr_assign(bdims, cent, id_column)
    ad = _lloyd_expr_assign(ddims, cent, id_column)

    def stats(dims: DataFrame, assign: DataFrame) -> DataFrame:
        return (
            dims.join(assign.select(id_column, "cluster"), on=id_column)
            .groupBy("cluster", "dim")
            .agg(
                F.sum(F.col("x").cast("decimal(30,10)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
        )

    zero = F.lit(0).cast("decimal(30,10)")
    merged = (
        stats(bdims, ab)
        .select(
            "cluster",
            "dim",
            F.col("s").alias("_bs"),
            F.col("n").alias("_bn"),
        )
        .join(
            stats(ddims, ad).select(
                "cluster",
                "dim",
                F.col("s").alias("_ds"),
                F.col("n").alias("_dn"),
            ),
            on=["cluster", "dim"],
            how="full_outer",
        )
        .select(
            "cluster",
            "dim",
            F.round(
                (
                    F.coalesce("_bs", zero) + F.coalesce("_ds", zero)
                ).cast("double")
                / (
                    F.coalesce("_bn", F.lit(0)) + F.coalesce("_dn", F.lit(0))
                ),
                round_decimals,
            ).alias("c_upd"),
        )
    )
    counts = (
        ab.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_base"))
        .join(
            ad.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_delta")),
            on="cluster",
            how="full_outer",
        )
        .select(
            "cluster",
            F.coalesce("n_base", F.lit(0).cast("long")).alias("n_base"),
            F.coalesce("n_delta", F.lit(0).cast("long")).alias("n_delta"),
        )
    )
    bdims.unpersist()
    ddims.unpersist()
    return counts, merged


def _vector_width(df: DataFrame, vector_column: str) -> int:
    first = df.select(F.size(vector_column).alias("d")).first()
    if first is None:
        raise ValueError("cannot derive vector width from an empty input")
    return int(first["d"])


def covariance_matrix(
    df: DataFrame,
    vector_column: str,
    round_decimals: int = 6,
) -> DataFrame:
    """Population covariance matrix of an embedding corpus, as the
    upper-triangle long table (i, j, cov) with i <= j — the one-pass
    second-moment statistic behind whitening, PCA preprocessing, and
    embedding-drift audits.

    Scale posture: the d(d+1)/2 dimension pairs are materialized
    INSIDE each row (one nested transform + a single explode), so no
    join and no row-id shuffle exists; the only exchange carries the
    partial aggregates — d(d+1)/2 groups total, independent of corpus
    size. Cross-engine parity: COVAR_POP differs from a SQL replay in
    last-ulp summation only, hidden behind the output rounding (the
    ev1 least-squares precedent).

    Ragged input: the width is the FIRST row's vector size. Elements
    past it in longer rows are ignored. Shorter rows feed only the
    (i, j) pairs they cover, so a pair no row covers is ABSENT from
    the output rather than a NULL-cov row.
    """
    width = _vector_width(df, vector_column)
    v = F.transform(F.col(vector_column), lambda x: x.cast("double"))
    # Pair build as TWO chained posexplodes (i from the vector, then j
    # from its tail slice) instead of one constant-width nested
    # transform emitting d(d+1)/2 struct builders. The single-expression
    # form generated a whole-stage method so large that the JVM's C2
    # compile of it intermittently stalled a rep for ~20s (measured:
    # 1.6–1.9s quiet, 19–23s on the stalled rep, at d=64 / 32 cores;
    # codegen disabled ran a stable ~2s). The chained-generator form
    # keeps every generated method small — measured stable 1.3–1.9s
    # warm with zero value diffs, and the aggregation input rows are
    # identical so COVAR_POP is unchanged bit for bit.
    rows = (
        df.select(F.posexplode(v).alias("i", "xi"), v.alias("_v"))
        .select(
            "i",
            "xi",
            F.posexplode(
                F.slice(
                    F.col("_v"),
                    F.col("i") + 1,
                    F.greatest(F.lit(0), F.lit(width) - F.col("i")),
                )
            ).alias("_dj", "xj"),
        )
        .select("i", (F.col("i") + F.col("_dj")).alias("j"), "xi", "xj")
    )
    return (
        rows.groupBy("i", "j")
        .agg(
            # + 0.0 canonicalizes IEEE signed zero: a tiny negative
            # covariance rounds to -0.0, which hash-differs from the
            # other engine's +0.0
            (
                F.round(F.covar_pop("xi", "xj"), round_decimals)
                + F.lit(0.0)
            ).alias("cov")
        )
    )


def power_iteration(
    df: DataFrame,
    vector_column: str,
    iterations: int = 6,
    round_decimals: int = 6,
) -> DataFrame:
    """Leading principal component by POWER ITERATION on the population
    covariance matrix — the PCA primitive (dominant eigenvector +
    eigenvalue) behind whitening, drift visualization, and spectral
    initialization, built from :func:`covariance_matrix`.

    Replay contract (the kmeans/pagerank discipline): each matvec
    product is 12dp-stabilized into EXACT decimal before summation,
    each normalized iterate rounds to ``round_decimals``, and signed
    zeros are absorbed by the decimal casts — so every iteration sees
    bit-identical inputs on both engines and the whole loop unrolls
    into stacked SQL CTEs (em22 pins it).

    Scale posture: the corpus is touched ONCE (the covariance pass,
    d(d+1)/2 partial aggregates); iterations run on the d×d table —
    a bounded post-stage, localCheckpointed per round so lineage
    stays flat.

    Returns (i, loading, eigenvalue): the unit-normalized dominant
    eigenvector and its eigenvalue estimate (the final iterate norm).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    width = _vector_width(df, vector_column)
    cov = covariance_matrix(df, vector_column, round_decimals=round_decimals)
    return power_iteration_on_cov(
        cov, width, iterations=iterations, round_decimals=round_decimals
    )


def _jround(x: float, scale: int) -> float:
    """Replay of Spark's ``F.round`` on DOUBLE: Java evaluates
    ``BigDecimal.valueOf(x).setScale(scale, HALF_UP)`` — a HALF_UP
    quantization of the double's shortest decimal rendering, which is
    exactly ``Decimal(repr(x))`` here (both sides print the shortest
    string that round-trips).

    JDK-dependence caveat: the "both render shortest" premise is
    guaranteed on JDK >= 19 (Ryu, JDK-4511638); older
    ``Double.toString`` can emit a non-shortest rendering, and a
    non-shortest rendering could in principle straddle a HALF_UP tie
    at the target scale. No such divergence exists for this lattice on
    the JDK 17 this repo is developed against —
    ``test_jround_adversarial_near_ties`` pins products whose digit at
    ``scale+1`` is exactly 5 ± 1 ulp against Spark's own evaluation —
    but a deployment on another pre-19 JDK should re-run that test."""
    import decimal
    import math

    if not math.isfinite(x):  # Spark's Round passes NaN/Inf through
        return x
    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal(1).scaleb(-scale), rounding=decimal.ROUND_HALF_UP
        )
    )


def _power_iteration_local(
    sym: dict,
    width: int,
    iterations: int,
    round_decimals: int,
) -> tuple[list[float], float]:
    """The :func:`power_iteration_on_cov` loop replayed on the driver
    over a collected d×d matrix — term-for-term the same decimal
    lattice as the distributed expression tree it replaced (each
    matvec product 12dp-rounded into exact decimal before summation,
    iterates re-rounded to ``round_decimals``), so the result is
    bit-identical and the unrolled-CTE oracles (em22/em23/em36) hold
    unchanged. Returns (loadings, final_norm)."""
    import decimal
    import math

    q12 = decimal.Decimal(1).scaleb(-12)

    def dec12(x: float) -> decimal.Decimal:
        # round(x, 12) then cast to decimal(_,12): the intermediate
        # double round-trips the 12dp value exactly at these
        # magnitudes, so one quantize replays both steps.
        return decimal.Decimal(repr(x)).quantize(
            q12, rounding=decimal.ROUND_HALF_UP
        )

    v = [1.0] * width
    nrm = 0.0
    for _ in range(iterations):
        w = [
            float(
                sum(
                    (
                        dec12(sym[(i, j)] * v[j])
                        for j in range(width)
                        if (i, j) in sym
                    ),
                    decimal.Decimal(0),
                )
            )
            for i in range(width)
        ]
        nrm = math.sqrt(
            float(sum((dec12(wi * wi) for wi in w), decimal.Decimal(0)))
        )
        # JVM double division: x/0.0 is ±Inf / NaN, never an error
        v = [
            _jround(
                wi / nrm
                if nrm != 0.0
                else (math.nan if wi == 0.0 else math.copysign(math.inf, wi)),
                round_decimals,
            )
            for wi in w
        ]
    return v, nrm


def power_iteration_on_cov(
    cov: DataFrame,
    width: int,
    iterations: int = 6,
    round_decimals: int = 6,
) -> DataFrame:
    """:func:`power_iteration` on a PRECOMPUTED upper-triangle
    covariance table (the :func:`covariance_matrix` output) — the
    production shape: compute the corpus-sized covariance pass once,
    then run eigen-analysis, trace, and variance-explained audits from
    the same d×d table (em23 does).

    The iteration loop runs on the DRIVER over the collected d×d
    table (bounded: d(d+1)/2 rows by schema width, corpus-size
    independent — the kmeans k×d-centroid collect policy). The
    distributed loop it replaces spent ~3 jobs per iteration
    (join + agg + normalize + localCheckpoint) on a ≤4096-row table;
    at ~0.5-1 s per job on the bench host that was ~8 s of pure
    scheduling for em22's 6 iterations (optimization guide §5: the
    driver does no data work — the corpus-sized covariance pass stays
    distributed; this loop is O(d²) fixed). Arithmetic is the same
    12dp-decimal replay lattice, term for term (pinned by
    test_power_iteration_on_cov_matches_distributed_replay)."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    spark = cov.sparkSession
    rows = cov.collect()  # bounded: d(d+1)/2 rows
    if not rows:
        # The distributed loop this replays joined against the cov
        # table, so an empty covariance yields an EMPTY result — not
        # `width` NaN rows.
        return spark.createDataFrame(
            [], "i int, loading double, eigenvalue double"
        )
    sym: dict = {}
    for r in rows:
        if r["cov"] is None:
            # NULL cov (e.g. covar_pop over ragged/null vectors): the
            # replaced plan's SUM skipped the null product — treat the
            # term as absent rather than raising on None * float.
            continue
        sym[(r["i"], r["j"])] = r["cov"]
        sym[(r["j"], r["i"])] = r["cov"]
    v, nrm = _power_iteration_local(sym, width, iterations, round_decimals)
    eig = _jround(nrm, round_decimals) + 0.0
    return spark.createDataFrame(
        [(i, v[i] + 0.0, eig) for i in range(width)],
        "i int, loading double, eigenvalue double",
    )


def deflate_covariance(
    cov: DataFrame,
    pc: DataFrame,
    round_decimals: int = 6,
) -> DataFrame:
    """Hotelling deflation: subtract a principal component's rank-1
    term λ·v·vᵀ from an upper-triangle covariance table so power
    iteration on the residual converges to the NEXT component.

    ``cov`` is the :func:`covariance_matrix` output (i, j, cov with
    i <= j); ``pc`` is the :func:`power_iteration_on_cov` output
    (i, loading, eigenvalue). Every input is already on the 6dp
    replay lattice, the rank-1 term is 12dp-stabilized before the
    (deterministic IEEE) subtraction, and the residual re-rounds to
    the lattice — so an oracle replaying the same expression tree
    sees bit-identical covariances.

    Scale posture: both joins are against the d-row loading table
    (bounded by construction → broadcast per the §4 policy); the
    output stays d(d+1)/2 rows."""
    vi = pc.select(F.col("i"), F.col("loading").alias("_vi"))
    vj = pc.select(
        F.col("i").alias("j"),
        F.col("loading").alias("_vj"),
        F.col("eigenvalue").alias("_lam"),
    )
    return (
        cov.join(F.broadcast(vi), on="i")
        .join(F.broadcast(vj), on="j")
        .select(
            "i",
            "j",
            (
                F.round(
                    F.col("cov")
                    - F.round(
                        F.col("_lam") * F.col("_vi") * F.col("_vj"), 12
                    ),
                    round_decimals,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def pca_top2(
    df: DataFrame,
    vector_column: str,
    iterations: int = 6,
    round_decimals: int = 6,
) -> DataFrame:
    """Top-2 principal components of an embedding corpus: power
    iteration for the dominant eigenpair, Hotelling deflation, power
    iteration again on the residual — the 2-D PCA decomposition
    behind embedding visualization, whitening, and drift projection.

    Scale posture: the corpus is touched ONCE (the covariance pass);
    both iteration chains and the deflation run on d×d-bounded
    tables. The covariance table is localCheckpointed because two
    consumers (the pc1 chain and the deflation) would otherwise
    re-execute the corpus pass.

    Returns (component ∈ {1, 2}, i, loading, eigenvalue).

    Both iteration chains AND the Hotelling deflation between them
    run on the DRIVER over the one collected d×d covariance table
    (the :func:`power_iteration_on_cov` rationale: the corpus pass is
    the only distributed stage; everything downstream is O(d²) fixed,
    and the distributed loop paid ~6 scheduling-bound jobs per chain
    on a ≤4096-row table). The deflation replays
    :func:`deflate_covariance`'s expression tree term for term:
    rank-1 term 12dp-rounded before the IEEE subtraction, residual
    re-rounded to the 6dp lattice."""
    width = _vector_width(df, vector_column)
    cov = covariance_matrix(df, vector_column, round_decimals=round_decimals)
    sym: dict = {}
    upper: list = []
    for r in cov.collect():  # bounded: d(d+1)/2 rows
        sym[(r["i"], r["j"])] = r["cov"]
        sym[(r["j"], r["i"])] = r["cov"]
        upper.append((r["i"], r["j"], r["cov"]))
    v1, nrm1 = _power_iteration_local(sym, width, iterations, round_decimals)
    lam1 = _jround(nrm1, round_decimals) + 0.0
    load1 = [x + 0.0 for x in v1]
    sym2: dict = {}
    for i, j, c in upper:
        resid = (
            _jround(
                c - _jround(lam1 * load1[i] * load1[j], 12),
                round_decimals,
            )
            + 0.0
        )
        sym2[(i, j)] = resid
        sym2[(j, i)] = resid
    v2, nrm2 = _power_iteration_local(sym2, width, iterations, round_decimals)
    lam2 = _jround(nrm2, round_decimals) + 0.0
    rows = [(1, i, load1[i], lam1) for i in range(width)] + [
        (2, i, v2[i] + 0.0, lam2) for i in range(width)
    ]
    return df.sparkSession.createDataFrame(
        rows, "component int, i int, loading double, eigenvalue double"
    )


def pca_label_projection(
    df: DataFrame,
    vector_column: str,
    label_column: str,
    iterations: int = 6,
) -> DataFrame:
    """Per-label centroid coordinates in the corpus's top-2 principal
    plane — the class-separation / drift-visualization audit a
    training-data pipeline runs over labeled embeddings (are classes
    separable along the dominant variance directions?).

    By linearity, the mean projection of a label group equals the
    projection of the group's MEAN VECTOR — so no per-row score
    materializes: one posexplode pass reduces the corpus to
    (label × d) exact-decimal dimension sums, and the dot with the
    :func:`pca_top2` loadings runs on that bounded table. Every sum
    crosses engines as exact decimal (12dp lattice); the single
    divide-by-n and the output rounding are deterministic IEEE on
    bit-identical inputs.

    Scale posture: corpus touched twice total (covariance pass inside
    pca_top2 + the label-sum pass), both fully partial-aggregatable;
    everything downstream is (labels × d)-bounded.

    Returns (label, n_vectors, mean_pc1, mean_pc2, lam1, lam2)."""
    # comps is 2d rows and consumed twice (projection join + the
    # eigenvalue pivot) — checkpoint so the pc2 chain's tail doesn't
    # re-execute per consumer.
    comps = pca_top2(df, vector_column, iterations=iterations).localCheckpoint()
    v = F.transform(F.col(vector_column), lambda x: x.cast("double"))
    sums = (
        df.select(F.col(label_column).alias("label"), F.posexplode(v).alias("i", "_x"))
        .groupBy("label", "i")
        .agg(
            F.sum(
                F.round(F.col("_x"), 12).cast("decimal(38,12)")
            ).alias("_s"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    terms = sums.join(
        F.broadcast(comps), on="i"
    ).select(
        "label",
        "_n",
        "component",
        F.round(
            F.col("loading") * F.col("_s").cast("double"), 12
        ).cast("decimal(38,12)").alias("_t"),
    )
    eig = (
        comps.groupBy()
        .agg(
            F.max(F.when(F.col("component") == 1, F.col("eigenvalue"))).alias("lam1"),
            F.max(F.when(F.col("component") == 2, F.col("eigenvalue"))).alias("lam2"),
        )
    )
    return (
        terms.groupBy("label")
        .agg(
            F.max("_n").alias("n_vectors"),
            F.sum(F.when(F.col("component") == 1, F.col("_t"))).cast("double").alias("_t1"),
            F.sum(F.when(F.col("component") == 2, F.col("_t"))).cast("double").alias("_t2"),
        )
        .crossJoin(F.broadcast(eig))
        .select(
            "label",
            "n_vectors",
            (F.round(F.col("_t1") / F.col("n_vectors"), 6) + F.lit(0.0)).alias("mean_pc1"),
            (F.round(F.col("_t2") / F.col("n_vectors"), 6) + F.lit(0.0)).alias("mean_pc2"),
            "lam1",
            "lam2",
        )
    )


def zscore_outliers(
    df: DataFrame,
    id_column: str,
    vector_column: str,
    top_k: int = 20,
) -> DataFrame:
    """Embedding OUTLIER audit: per-dimension z-score energy
    Σ_i z_i² (the diagonal-covariance Mahalanobis distance) ranks the
    corpus's most anomalous vectors — the corrupted-embedding /
    pipeline-glitch detector a curation run executes before indexing.

    Determinism lattice: per-dim moments accumulate as exact decimal
    partial aggregates; mean/std derive on the 12dp lattice (variance
    floored at 0 before the sqrt, zero-variance dims contribute 0 on
    BOTH engines); each row's z² terms fold in exact decimal inside
    one scan expression. Ranking uses the 6dp-rounded score with id
    tie-breaks.

    Scale posture: ONE stats pass (d-bounded partial aggregates), ONE
    scoring scan with the d-row stats table broadcast as a single
    packed array row (no per-element join, no row-id shuffle), and a
    TakeOrderedAndProject top-k. Nothing through the driver.

    Returns the input's non-vector columns + (score, rk), top ``top_k``
    by (score DESC, id ASC)."""
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    width = _vector_width(df, vector_column)
    v = F.transform(F.col(vector_column), lambda x: x.cast("double"))
    stats = (
        df.select(F.posexplode(v).alias("_i", "_x"))
        .groupBy("_i")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.round(F.col("_x"), 12).cast("decimal(38,12)")).alias("_s"),
            F.sum(
                F.round(F.col("_x") * F.col("_x"), 12).cast("decimal(38,12)")
            ).alias("_s2"),
        )
        .select(
            "_i",
            F.round(F.col("_s").cast("double") / F.col("_n"), 12).alias("_mu"),
            F.round(
                F.sqrt(
                    F.greatest(
                        F.round(
                            F.col("_s2").cast("double") / F.col("_n")
                            - F.round(
                                F.round(
                                    F.col("_s").cast("double") / F.col("_n"),
                                    12,
                                )
                                * F.round(
                                    F.col("_s").cast("double") / F.col("_n"),
                                    12,
                                ),
                                12,
                            ),
                            12,
                        ),
                        F.lit(0.0),
                    )
                ),
                12,
            ).alias("_sd"),
        )
    )
    packed = stats.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("_i", "_mu", "_sd"))
        ).alias("_st")
    )
    vec = v

    def term(i):
        mu = F.element_at(F.col("_st"), i + 1)["_mu"]
        sd = F.element_at(F.col("_st"), i + 1)["_sd"]
        # guard BOTH ragged rows (element_at past the end raises under
        # ANSI mode) and NULL elements (acc + NULL would poison the
        # whole decimal fold, where the oracle's SUM just skips the
        # term) — either contributes 0, matching SQL SUM semantics
        x = F.when(F.size(vec) > i, F.element_at(vec, i + 1))
        # clamp |z| at 1e12 before squaring: a genuinely corrupted
        # element (the very case this audit exists to rank) can push
        # z past 1e13, whose square overflows even decimal(38,12) —
        # clamped, z² ≤ 1e24 folds exactly and the outlier still ranks
        # first instead of nulling (non-ANSI) or raising (ANSI/DuckDB)
        z = F.least(
            F.greatest(F.round((x - mu) / sd, 12), F.lit(-1.0e12)),
            F.lit(1.0e12),
        )
        return (
            F.when(x.isNotNull() & (sd > 0), F.round(z * z, 12))
            .otherwise(F.lit(0.0))
            .cast("decimal(38,12)")
        )

    keep = [c for c in df.columns if c != vector_column]
    scored = df.crossJoin(F.broadcast(packed)).select(
        *keep,
        F.round(
            F.aggregate(
                F.transform(F.sequence(F.lit(0), F.lit(width - 1)), term),
                F.lit("0").cast("decimal(38,12)"),
                lambda acc, t: (acc + t).cast("decimal(38,12)"),
            ).cast("double"),
            6,
        ).alias("score"),
    )
    top = scored.orderBy(
        F.desc("score"), F.asc(id_column)
    ).limit(top_k)
    wr = Window.orderBy(F.desc("score"), F.asc(id_column))
    return top.select(
        F.row_number().over(wr).alias("rk"), *keep, "score"
    )


def nn_descent(
    df: DataFrame,
    id_column: str,
    vector_column: str,
    k: int = 6,
    rounds: int = 3,
) -> DataFrame:
    """Approximate kNN-GRAPH construction via NN-descent (Dong, Moses
    & Li, WWW 2011, "Efficient k-nearest neighbor graph construction
    for generic similarity measures") — the graph-based ANN family
    beside the IVF/PQ/LSH/binary indexes, and the input structure
    HNSW-class indexes are built from.

    Algorithm (the paper's local join, made deterministic): start from
    md5-seeded pseudo-random neighbor lists, then for a FIXED number
    of rounds (the pagerank/kmeans round discipline) generate
    candidate pairs among each node's combined forward+capped-reverse
    neighborhood B(v), score candidates exactly, and keep each node's
    best k by (cos_sim DESC, neighbor ASC). Every step is relational:
    the candidate join fans out O(n·(2k)²) pairs per round — never
    all-pairs — and the update is a keyed window rank.

    Determinism contract: the seed offsets are the portable md5
    uniform; similarities are the expression cosine (strict
    left-fold dot, same fold order as the oracle's list_sum) rounded
    6dp; all ranks tie-break on neighbor id — so the final edge set
    replays exactly in SQL (em25's oracle unrolls the rounds as CTE
    blocks, the em22/tx46 pattern).

    Requires integer ids occupying [0, n) (the seed arithmetic is
    modular); raises otherwise. Edge tables are localCheckpoint-ed
    per round (vocab-of-nodes-sized: n·k rows).

    Returns (node, nbr, cos_sim): k (or fewer, after seed-collision
    dedup) approximate nearest neighbors per node.
    """
    if k < 1 or rounds < 0:
        raise ValueError("k must be >= 1 and rounds >= 0")
    bounds = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(id_column).alias("mn"),
        F.max(id_column).alias("mx"),
    ).collect()[0]
    n = bounds["n"]
    if n < 3:
        raise ValueError("nn_descent needs at least 3 vectors")
    if bounds["mn"] != 0 or bounds["mx"] != n - 1:
        raise ValueError(
            "nn_descent requires contiguous integer ids in [0, n); got "
            f"[{bounds['mn']}, {bounds['mx']}] for n={n}"
        )
    import numpy as np
    import pandas as pd

    # cast to double BEFORE any arithmetic: float32 products would
    # round differently from the oracle's float64 list arithmetic
    emb = df.select(
        F.col(id_column).alias("_eid"),
        F.col(vector_column).cast("array<double>").alias("_v"),
    ).localCheckpoint()

    def _score(pairs: DataFrame, left: str, right: str) -> DataFrame:
        """Exact cosine for an arbitrary pair list: join both vectors,
        then one vectorized float64 kernel per Arrow batch (the em1
        lane; _round_half_up keeps the 6dp values on the SQL contract
        — the em24-proven BLAS↔list_sum equivalence)."""
        a = emb.select(
            F.col("_eid").alias(left), F.col("_v").alias("_va")
        )
        b = emb.select(
            F.col("_eid").alias(right), F.col("_v").alias("_vb")
        )
        joined = pairs.join(a, left).join(b, right)

        def kernel(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                va = np.array(pdf["_va"].tolist(), dtype=np.float64)
                vb = np.array(pdf["_vb"].tolist(), dtype=np.float64)
                num = np.einsum("ij,ij->i", va, vb)
                den = np.sqrt(np.einsum("ij,ij->i", va, va)) * np.sqrt(
                    np.einsum("ij,ij->i", vb, vb)
                )
                yield pd.DataFrame(
                    {
                        left: pdf[left],
                        right: pdf[right],
                        "sim": _round_half_up(num / den, 6),
                    }
                )

        id_type = emb.schema["_eid"].dataType.simpleString()
        return joined.mapInPandas(
            kernel, f"{left} {id_type}, {right} {id_type}, sim double"
        )

    def _topk(edges: DataFrame) -> DataFrame:
        w = Window.partitionBy("node").orderBy(
            F.col("sim").desc(), F.col("nbr").asc()
        )
        # one exchange instead of two: lay out by node once, then both
        # the dedup (a groupBy over (node, nbr, sim) — hash(node)
        # already clusters it) and the rank window reuse that layout
        return (
            edges.repartition("node")
            .groupBy("node", "nbr", "sim")
            .agg(F.lit(1))
            .select("node", "nbr", "sim")
            .withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= k)
            .drop("_rk")
        )

    off_hash = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("nnd#init#"),
                    F.col("node").cast("string"),
                    F.lit("#"),
                    F.col("s").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    init = (
        emb.select(
            F.col("_eid").alias("node"),
            F.explode(F.sequence(F.lit(1), F.lit(k))).alias("s"),
        )
        .select(
            "node",
            F.pmod(
                F.col("node") + F.lit(1) + F.pmod(off_hash, F.lit(n - 1)),
                F.lit(n),
            ).alias("nbr"),
        )
        .distinct()
    )
    edges = _topk(
        _score(init, "node", "nbr").select("node", "nbr", "sim")
    ).localCheckpoint()

    for _ in range(rounds):
        rev = edges.select(
            F.col("nbr").alias("node"), F.col("node").alias("nbr"), "sim"
        )
        wrev = Window.partitionBy("node").orderBy(
            F.col("sim").desc(), F.col("nbr").asc()
        )
        revc = (
            rev.withColumn("_rk", F.row_number().over(wrev))
            .where(F.col("_rk") <= k)
            .drop("_rk")
        )
        # no distinct here: duplicate (node, nbr) rows only produce
        # duplicate candidate pairs, which the pair-level distinct
        # removes — skipping it saves one shuffle per round
        und = edges.select("node", "nbr").unionByName(
            revc.select("node", "nbr")
        )
        cand = (
            und.alias("a")
            .join(und.alias("b"), "node")
            .where(F.col("a.nbr") < F.col("b.nbr"))
            .select(F.col("a.nbr").alias("x"), F.col("b.nbr").alias("y"))
            # dedup laid out on x so _score's first vector join (also
            # keyed x) reuses the exchange — same rows as distinct()
            .repartition("x")
            .groupBy("x", "y")
            .agg(F.lit(1))
            .select("x", "y")
        )
        scored = _score(cand, "x", "y")
        # both edge directions via ONE explode over the scored pairs:
        # referencing `scored` twice replayed the whole candidate
        # build + Arrow scoring kernel per direction (no cross-subtree
        # reuse fires through mapInPandas)
        both = scored.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("x").alias("node"),
                        F.col("y").alias("nbr"),
                        F.col("sim"),
                    ),
                    F.struct(
                        F.col("y").alias("node"),
                        F.col("x").alias("nbr"),
                        F.col("sim"),
                    ),
                )
            ).alias("_e")
        ).select("_e.node", "_e.nbr", "_e.sim")
        edges = _topk(edges.unionByName(both)).localCheckpoint()
    return edges.select("node", "nbr", F.col("sim").alias("cos_sim"))


def graph_greedy_search(
    edges: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_column: str,
    vector_column: str,
    query_id_column: str = "query_id",
    query_vector_column: str = "query_vec",
    beam: int = 8,
    hops: int = 4,
) -> DataFrame:
    """Greedy BEAM SEARCH over a kNN graph — the SERVE half of
    graph-based ANN (the layer-0 walk of HNSW-class indexes; Malkov &
    Yashunin 2018): all queries start at the graph's minimum-id node,
    then for a fixed number of hops expand the current beam's
    out-neighbors, score them exactly against the query, and keep the
    best ``beam`` per query — candidates touched per query per hop
    are O(beam · degree), never the corpus.

    Works on any (node, nbr) edge table: nn_descent's approximate
    graph or an exact cosine_topk graph (the em26 audit uses the
    latter to isolate SEARCH quality from construction quality).

    Determinism: expression cosine (float64, strict left-fold) rounded
    6dp, ranks tie-break node-ascending, fixed entry + fixed hops —
    the walk unrolls in SQL (em26's oracle). Frontier tables are
    localCheckpoint-ed per hop (beam · queries rows).

    Returns (query_id, node, cos_sim): the final beam per query,
    rank-ordered consumers take their own top-k."""
    if beam < 1 or hops < 0:
        raise ValueError("beam must be >= 1 and hops >= 0")
    emb = corpus.select(
        F.col(id_column).alias("_nid"),
        F.col(vector_column).cast("array<double>").alias("_nv"),
    ).localCheckpoint()
    q = queries.select(
        F.col(query_id_column).alias("_qid"),
        F.col(query_vector_column).cast("array<double>").alias("_qv"),
    ).localCheckpoint()
    e = edges.select(
        F.col("node").alias("_from"), F.col("nbr").alias("_nid")
    ).localCheckpoint()
    entry = emb.agg(F.min("_nid").alias("_nid"))

    def _score(cand: DataFrame) -> DataFrame:
        return (
            cand.join(emb, "_nid")
            .join(q, "_qid")
            .select(
                "_qid",
                "_nid",
                F.round(cosine(F.col("_nv"), F.col("_qv")), 6).alias("sim"),
            )
        )

    w = Window.partitionBy("_qid").orderBy(
        F.col("sim").desc(), F.col("_nid").asc()
    )
    # The hop loop is keyed on _qid end to end (the window, and every
    # per-query set operation), so lay the entry frontier out by _qid
    # once — at scale this is also the only layout the walk ever needs.
    frontier = _score(
        q.select("_qid").crossJoin(F.broadcast(entry))
    ).repartition("_qid").localCheckpoint()
    # visited-set pruning is RESULT-IDENTICAL: the beam only improves
    # (frontier = top-k of frontier ∪ new), so its k-th-best bar is
    # monotone and an evicted node can never re-enter — skipping
    # already-scored nodes only removes wasted rescoring on later hops.
    # The visited state is the LIST of per-hop checkpointed expansion
    # layers (the bfs_hops discipline): a lazy union of checkpointed
    # leaves anti-joins identically but never re-serializes the
    # running union per hop. The expansion checkpoint is LAZY
    # (eager=False): its only first consumer is the very next frontier
    # materialization, which computes-and-caches it inside the same
    # job — one action per hop instead of two — while later hops'
    # visited unions still scan the cached leaf, never the plan.
    # Dedup is a groupBy rather than distinct (same rows, and the
    # aggregate's partial/map side pre-shrinks the (qid, nid) exchange).
    # r13 interleaved A/B (em26+em27 walk shapes, 4 reps): this shape
    # med 9.95s vs 12.68s for the r12 eager-expanded form.
    layers = [frontier.select("_qid", "_nid").localCheckpoint()]
    for _ in range(hops):
        visited = reduce(DataFrame.unionByName, layers)
        expanded = (
            frontier.select("_qid", F.col("_nid").alias("_from"))
            .join(e, "_from")
            .select("_qid", "_nid")
            .groupBy("_qid", "_nid")
            .agg(F.lit(1))
            .select("_qid", "_nid")
            .join(visited, ["_qid", "_nid"], "left_anti")
            .localCheckpoint(eager=False)
        )
        frontier = (
            frontier.unionByName(_score(expanded))
            .withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= beam)
            .drop("_rk")
            .localCheckpoint()
        )
        layers.append(expanded)
    return frontier.select(
        F.col("_qid").alias(query_id_column),
        F.col("_nid").alias("node"),
        F.col("sim").alias("cos_sim"),
    )


def nn_descent_ingest(
    edges: DataFrame,
    corpus: DataFrame,
    new_df: DataFrame,
    id_column: str,
    vector_column: str,
    k: int = 10,
    beam: int = 10,
    hops: int = 6,
) -> DataFrame:
    """INCREMENTAL kNN-graph maintenance — add a batch of new vectors
    to an existing graph WITHOUT a full rebuild (the graph-family
    counterpart of ivf_ingest): each new vector finds its neighbors by
    :func:`graph_greedy_search` over the EXISTING graph (O(beam ·
    degree · hops) per new vector, never the corpus), existing nodes
    reconsider their lists against the arrivals (reverse direction of
    the found pairs), and new–new edges come from co-neighbor
    candidate pairs (two new vectors that found the same existing
    node — the NN-descent locality trick, fanout bounded by the found
    lists). Old–old edges are never rescored.

    Requires new ids disjoint from corpus ids (raises otherwise — a
    collision would silently merge two vectors' neighborhoods).

    Determinism: all sims are the 6dp expression cosine; every rank
    tie-breaks neighbor-ascending; fixed entry/hops — em27's oracle
    unrolls the whole ingest. Returns the UPDATED full graph
    (node, nbr, cos_sim): old nodes with refreshed lists ∪ new nodes
    with their k best."""
    if k < 1:
        raise ValueError("k must be >= 1")
    overlap = (
        new_df.select(F.col(id_column).alias("_nid"))
        .join(
            corpus.select(F.col(id_column).alias("_nid")), "_nid", "left_semi"
        )
        .count()
    )
    if overlap:
        raise ValueError(
            f"{overlap} new ids collide with corpus ids — ingest requires "
            "disjoint id spaces"
        )
    dups = (
        new_df.groupBy(F.col(id_column).alias("_nid"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > 1)
        .count()
    )
    if dups:
        raise ValueError(
            f"{dups} duplicate ids inside the new batch — their search "
            "beams would silently merge into one corrupted neighbor list"
        )
    qs = new_df.select(
        F.col(id_column).alias("_qid"),
        F.col(vector_column).cast("array<double>").alias("_qv"),
    ).localCheckpoint()
    found = graph_greedy_search(
        edges,
        corpus,
        qs,
        id_column,
        vector_column,
        query_id_column="_qid",
        query_vector_column="_qv",
        beam=beam,
        hops=hops,
    ).localCheckpoint()  # (_qid=new, node=existing, cos_sim)

    def _topk(frame: DataFrame) -> DataFrame:
        w = Window.partitionBy("node").orderBy(
            F.col("sim").desc(), F.col("nbr").asc()
        )
        # same one-exchange layout as nn_descent._topk: dedup and rank
        # both ride one hash(node) exchange
        return (
            frame.repartition("node")
            .groupBy("node", "nbr", "sim")
            .agg(F.lit(1))
            .select("node", "nbr", "sim")
            .withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= k)
            .drop("_rk")
        )

    new_to_old = found.select(
        F.col("_qid").alias("node"),
        F.col("node").alias("nbr"),
        F.col("cos_sim").alias("sim"),
    )
    old_to_new = found.select(
        F.col("node"),
        F.col("_qid").alias("nbr"),
        F.col("cos_sim").alias("sim"),
    )
    # co-neighbor candidates among the new batch: pairs sharing a
    # found existing neighbor, scored fresh
    co = (
        found.alias("a")
        .join(found.alias("b"), "node")
        .where(F.col("a._qid") < F.col("b._qid"))
        .select(F.col("a._qid").alias("x"), F.col("b._qid").alias("y"))
        .distinct()
    )
    qa = qs.select(F.col("_qid").alias("x"), F.col("_qv").alias("_va"))
    qb = qs.select(F.col("_qid").alias("y"), F.col("_qv").alias("_vb"))
    co_scored = (
        co.join(qa, "x")
        .join(qb, "y")
        .select(
            "x",
            "y",
            F.round(cosine(F.col("_va"), F.col("_vb")), 6).alias("sim"),
        )
    )
    # both directions via one explode — referencing co_scored twice
    # replayed the co-pair join + scoring subtree per direction
    new_new = co_scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("x").alias("node"),
                    F.col("y").alias("nbr"),
                    F.col("sim"),
                ),
                F.struct(
                    F.col("y").alias("node"),
                    F.col("x").alias("nbr"),
                    F.col("sim"),
                ),
            )
        ).alias("_e")
    ).select("_e.node", "_e.nbr", "_e.sim")
    old_edges = edges.select(
        "node", "nbr", F.col("cos_sim").alias("sim")
    )
    updated_old = _topk(old_edges.unionByName(old_to_new))
    new_lists = _topk(new_to_old.unionByName(new_new))
    return (
        updated_old.unionByName(new_lists)
        .select("node", "nbr", F.col("sim").alias("cos_sim"))
    )


def rrf_fuse(
    rankings: list[tuple[str, DataFrame]],
    id_column: str,
    rank_column: str = "rk",
    k0: int = 60,
    top_k: int = 10,
    round_dp: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR
    2009) — the standard hybrid-search combiner: each ranked list
    contributes ``1/(k0 + rank)`` for every id it contains, and the
    fused score is the sum. Used to merge lexical (BM25) and vector
    (cosine) retrieval without score calibration — only RANKS cross
    lanes, so wildly different score scales fuse cleanly.

    Determinism contract: ``rankings`` is an ORDERED list of
    (lane_name, frame) — contributions add in exactly that lane
    order as one fixed expression chain (never a shuffle-order SUM of
    doubles), each term is the IEEE double 1/(k0+rank), and the final
    ranking sorts on the ``round_dp``-ROUNDED fused score with id
    tie-break, so the output replays exactly in SQL.

    Scale shape: the inputs are already top-k lists (k·lanes rows,
    bounded by construction), so the full-outer merge, the fixed-order
    add, and the final TakeOrderedAndProject all run on k-bounded
    data — the corpus never appears here; lane construction (BM25
    postings, ANN probes) bounds the heavy work upstream.

    Output: (rk, id, <lane>_rk ... one per lane, rrf) — lane ranks
    NULL where a lane did not retrieve the id.
    """
    if len(rankings) < 1:
        raise ValueError("rrf_fuse needs at least one ranking")
    if k0 < 1 or top_k < 1:
        raise ValueError("k0 and top_k must be >= 1")
    names = [name for name, _ in rankings]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate lane names: {names}")
    merged = None
    for name, frame in rankings:
        lane = frame.select(
            F.col(id_column),
            F.col(rank_column).cast("int").alias(f"{name}_rk"),
        )
        merged = (
            lane
            if merged is None
            else merged.join(lane, id_column, "full_outer")
        )
    score = F.lit(0.0)
    for name in names:
        rk = F.col(f"{name}_rk")
        score = score + F.when(
            rk.isNotNull(), F.lit(1.0) / (F.lit(float(k0)) + rk)
        ).otherwise(F.lit(0.0))
    scored = merged.withColumn("rrf", F.round(score, round_dp))
    w = Window.orderBy(F.desc("rrf"), F.asc(id_column))
    return (
        scored.orderBy(F.desc("rrf"), F.asc(id_column))
        .limit(int(top_k))
        .select(
            F.row_number().over(w).alias("rk"),
            id_column,
            *[f"{n}_rk" for n in names],
            "rrf",
        )
    )
