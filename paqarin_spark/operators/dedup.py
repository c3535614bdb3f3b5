"""Deduplication operators (SURVEY.md §2 ops E1/E2/E3 plus the
north-star LLM-pipeline dedup family: exact, MinHash-LSH, SimHash,
n-gram Jaccard).

Reference surface: keep-first key dedup
(`paqarin/metrics/univariate_metrics.py:69-71`), entity dedup
(`paqarin/utils/data_utils.py:18`). The document-level near-dup ops are
north-star extensions (SURVEY.md §7 step 6) built entirely from
DataFrame primitives so they scale: shingle→hash→band→bucket-join, no
pairwise cross join except within candidate buckets.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Tokenization contract shared by every text op (and mirrored in the
# DuckDB oracle SQL): lowercase, alphanumeric runs are tokens.
TOKEN_PATTERN = "[a-z0-9]+"


def normalized_text(text_col) -> F.Column:
    """The ONE corpus text normalization every shingle/anchor/line/
    lift operator (and its mirrored oracle SQL) builds on: lowercase,
    non-alphanumeric runs collapse to single spaces, ends trimmed.
    Splitting the result on ' ' yields the token array; changing the
    token alphabet here changes it everywhere at once."""
    return F.btrim(
        F.regexp_replace(F.lower(text_col), "[^a-z0-9]+", " ")
    )


def keep_first(
    df: DataFrame,
    key_columns: Sequence[str],
    order_columns: Sequence[str],
) -> DataFrame:
    """Op E2: on duplicated keys keep the first row by arrival order.

    Reference: ``index.duplicated(keep="first")`` on (item, ts)
    (`paqarin/metrics/univariate_metrics.py:69-71`). Arrival order must
    be explicit in Spark (SURVEY.md §7).
    """
    w = Window.partitionBy(*key_columns).orderBy(*order_columns)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def tokens(text_col) -> F.Column:
    """Lowercased alphanumeric tokens of a string column."""
    return F.regexp_extract_all(F.lower(text_col), F.lit(TOKEN_PATTERN), 0)


def shingles_from_tokens(toks_col, n: int) -> F.Column:
    """Distinct word n-gram shingles (space-joined) from a MATERIALIZED
    token-array column.

    ``toks_col`` must be a plain column reference, not the ``tokens()``
    expression: Spark evaluates expressions referenced inside a
    higher-order-function lambda once per array element, so passing the
    regexp extraction directly would re-run it O(tokens) times per row
    (measured 25s for 5k docs at sf0.1 vs <1s materialized).
    """
    return F.array_distinct(
        F.filter(
            F.transform(
                toks_col,
                lambda _, i: F.when(
                    i <= F.size(toks_col) - n,
                    F.concat_ws(" ", F.slice(toks_col, i + 1, n)),
                ),
            ),
            lambda x: x.isNotNull(),
        )
    )


def word_shingles(text_col, n: int) -> F.Column:
    """Distinct word n-gram shingles of a raw text column. Prefer
    tokenizing into a projection first and calling
    :func:`shingles_from_tokens` when the result feeds several
    consumers (see its docstring for why)."""
    return shingles_from_tokens(tokens(text_col), n)


def _shingle_rows(
    df: DataFrame,
    text_column: str,
    id_column: str,
    n: int,
    distinct: bool = True,
) -> DataFrame:
    """(doc, shingle) exploded rows of word n-gram shingles.

    Extraction is ONE codegen'd regexp pass: a lookahead group captures
    the n-token window at every token start while the match consumes a
    single token, yielding all overlapping shingles without any
    interpreted higher-order-function work (~1.4× faster warm than the
    transform/slice formulation, and it stays inside whole-stage
    codegen). With ``distinct=True`` output is identical to
    ``explode(shingles_from_tokens(tokens(text), n))``; with
    ``distinct=False`` every occurrence (span) is kept with its
    within-document multiplicity — the span-level view
    :func:`duplicate_spans` needs.
    """
    norm = normalized_text(F.col(text_column))
    pat = "(?=(" + " ".join(["[a-z0-9]+"] * n) + "))[a-z0-9]+ ?"
    arr = F.regexp_extract_all(norm, F.lit(pat), 1)
    if distinct:
        arr = F.array_distinct(arr)
    return df.select(
        F.col(id_column).alias("doc"), F.explode(arr).alias("shingle")
    )


def exact_duplicates(
    df: DataFrame,
    text_column: str,
    id_column: str,
) -> DataFrame:
    """Exact dedup via content hash: one row per distinct content hash
    with the duplicate count and the smallest id (the canonical keeper).

    Hash-groupBy — a single shuffle on the 128-bit digest; partial
    aggregation makes the shuffle O(distinct contents) not O(rows).
    """
    return (
        df.select(F.md5(F.col(text_column)).alias("content_hash"), F.col(id_column))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min(id_column).alias("keep_id"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_column: str,
    id_column: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_frequency: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs by word-n-gram Jaccard similarity.

    Scale path: explode shingles → self-join on shingle (only docs
    sharing a shingle ever meet — an inverted-index join, not a cross
    join) → count common shingles per pair → Jaccard =
    common / (|A| + |B| - common). Output: (id_a, id_b, jaccard),
    id_a < id_b, jaccard >= threshold.

    ``max_doc_frequency``: standard stop-shingle pruning. A shingle
    appearing in k documents emits O(k²) join rows, so ONE viral
    shingle shared by 10k docs would produce ~50M pairs — at 100 TB
    this is the blow-up that kills the self-join. Shingles whose
    document frequency exceeds the cap are dropped from the JOIN side
    only (doc sizes still count every shingle), which can only lower
    the reported ``common`` for pairs sharing a stop-shingle — the
    usual precision/cost trade, mirrored exactly in the tx4 oracle
    SQL. The hot-shingle anti-join is unhinted: the heavy-hitter list
    is small in practice but its size is data-dependent (an absolute
    df cap admits more shingles as the corpus grows), so AQE owns the
    strategy.
    """
    shing = _shingle_rows(df, text_column, id_column, n)
    sizes = shing.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    if max_doc_frequency is not None:
        hot = (
            shing.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_doc_frequency)
            .select("shingle")
        )
        shing = shing.join(hot, on="shingle", how="left_anti")
    a = shing.alias("a")
    b = shing.alias("b")
    common = (
        a.join(b, on="shingle")
        .where(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(
            sizes.withColumnRenamed("doc", "id_a").withColumnRenamed(
                "n_shingles", "size_a"
            ),
            on="id_a",
        )
        .join(
            sizes.withColumnRenamed("doc", "id_b").withColumnRenamed(
                "n_shingles", "size_b"
            ),
            on="id_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.col("size_a") + F.col("size_b") - F.col("common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_signatures(
    df: DataFrame,
    text_column: str,
    id_column: str,
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Deterministic MinHash signatures over word shingles.

    Hash family: ``md5(i || ':' || shingle)`` for seed i — fully
    deterministic and reproducible in ANSI SQL (the oracle runs the
    same expressions in DuckDB). Each signature column is the lexical
    min digest. Per-doc aggregation is one shuffle; signatures are
    O(num_hashes) per doc.
    """
    shing = _shingle_rows(df, text_column, id_column, shingle_n)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return shing.groupBy("doc").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_column: str,
    id_column: str,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH candidate pairs: band the signature, join docs that
    collide in any band. Output distinct (id_a, id_b), id_a < id_b.

    Banding keeps the join an equi-join on (band_id, band_hash) — the
    classic shingle→minhash→band→bucket-join pipeline; no cross join.
    """
    sigs = minhash_signatures(df, text_column, id_column, num_hashes, shingle_n)
    n_bands = num_hashes // band_size
    # Measured: the per-band union is FASTER than the unpivot
    # formulation here (4.0 s vs 5.4 s for tx11 at sf0.1) — the
    # signature aggregation's shuffle is reused across branches
    # (ReusedExchange), while unpivot's Expand duplicates every
    # signature row n_bands times before the join. simhash_pairs
    # measured the opposite because its per-band cost is a full
    # fingerprint aggregation, not a reusable exchange.
    band_rows = []
    for b in range(n_bands):
        cols = [F.col(f"mh_{i}") for i in range(b * band_size, (b + 1) * band_size)]
        band_rows.append(
            sigs.select(
                F.col("doc"),
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *cols)).alias("band_hash"),
            )
        )
    bands = band_rows[0]
    for extra in band_rows[1:]:
        bands = bands.unionByName(extra)
    a = bands.alias("a")
    b_ = bands.alias("b")
    return (
        a.join(b_, on=["band", "band_hash"])
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )


def simhash(
    df: DataFrame,
    text_column: str,
    id_column: str,
    bits: int = 64,
) -> DataFrame:
    """64-bit SimHash per document from token md5 digests.

    Each token votes +1/-1 per bit (bit taken from the token's md5,
    interpreted as a 64-bit int from the first 16 hex chars); the
    fingerprint sets bits with positive vote sums. Pure
    explode/groupBy/bitwise expressions — no UDF; one shuffle keyed by
    doc id.
    """
    tok = df.select(
        F.col(id_column).alias("doc"),
        F.explode(tokens(F.col(text_column))).alias("token"),
    )
    h = F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10).cast("long")
    tok = tok.withColumn("h", h)
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v_{i}")
        for i in range(min(bits, 60))
    ]
    per_doc = tok.groupBy("doc").agg(*votes)
    fingerprint = F.lit(0).cast("long")
    for i in range(min(bits, 60)):
        bit = F.when(F.col(f"v_{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fingerprint = fingerprint + F.shiftleft(bit, i)
    return per_doc.select("doc", fingerprint.alias("simhash"))


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    algorithm: str = "label",
) -> DataFrame:
    """Connected components over a near-duplicate pair list — the
    cluster-then-keep-one-representative step after LSH/cosine pair
    generation (north-star dedup surface; no reference analogue).

    ``algorithm='label'`` (default): iterative min-label propagation —
    every node's label becomes the min of its own and its neighbors'
    labels until a fixpoint, so each doc ends up labeled with the
    smallest doc id reachable from it — exactly the transitive closure
    a recursive-CTE oracle computes. Each iteration is ONE shuffle
    join keyed on the node id plus a fixpoint check; LSH buckets emit
    near-cliques, so convergence is fast (diameter rounds, typically
    <5).

    ``algorithm='star'``: alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    2014) — converges in O(log²) rounds independent of component
    diameter, the scale path for adversarially chain-shaped duplicate
    graphs where diameter-bound propagation would run hundreds of
    shuffle rounds. Identical output contract.

    Only docs appearing in ``pairs`` are returned; unpaired docs are
    their own trivial clusters and need no row.
    """
    if algorithm == "star":
        return _duplicate_clusters_star(pairs, id_a, id_b, max_iterations)
    if algorithm == "contract":
        return _duplicate_clusters_contract(pairs, id_a, id_b, max_iterations)
    if algorithm != "label":
        raise ValueError(
            f"algorithm must be label|star|contract, got {algorithm!r}"
        )
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    prev_sum = None
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("_nl"))
        )
        # localCheckpoint (not persist): caching alone leaves the
        # logical plan growing one join deeper per round, and Catalyst
        # re-analyzes the whole accumulated plan each iteration —
        # super-linear planning time that dominates past ~10 rounds.
        # Checkpointing truncates the lineage so every round plans
        # against a flat in-memory scan.
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                F.col("node"),
                F.least(
                    F.col("label"), F.coalesce(F.col("_nl"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        # Min-propagation only ever decreases labels, so the label sum
        # is strictly monotone until the fixpoint: equal sum == no row
        # changed. One cheap agg over the (just-cached) labels per
        # round instead of an old-vs-new join.
        # decimal sum: a wrapped long sum could alias two different
        # label states at extreme id ranges; decimal(38) cannot.
        label_sum = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("_s")
        ).collect()[0]["_s"]
        labels.unpersist()
        labels = new_labels
        if label_sum == prev_sum:
            converged = True
            break
        prev_sum = label_sum
    if not converged:
        # Budget exhausted before the fixpoint (deep-diameter graph —
        # e.g. a chain longer than max_iterations). Never return a
        # partial labeling: contract the graph through the partial
        # labels (connectivity-preserving — every node is connected to
        # its current label by construction), finish the much smaller
        # residual on the shape-independent star algorithm, and
        # compose — the same guarantee `contract` gives.
        la = labels.select(
            F.col("node").alias("src"), F.col("label").alias("_la")
        )
        lb = labels.select(
            F.col("node").alias("dst"), F.col("label").alias("_lb")
        )
        residual = (
            edges.join(la, on="src")
            .join(lb, on="dst")
            .where(F.col("_la") != F.col("_lb"))
            .select(
                F.least("_la", "_lb").alias("id_a"),
                F.greatest("_la", "_lb").alias("id_b"),
            )
            .distinct()
        )
        star = _duplicate_clusters_star(
            residual, "id_a", "id_b", max(max_iterations, 64)
        )
        labels = (
            labels.join(star, labels.label == star.doc, "left")
            .select(
                F.col("node"),
                F.coalesce(F.col("cluster_rep"), F.col("label")).alias(
                    "label"
                ),
            )
            .localCheckpoint()
        )
    edges.unpersist()
    out = labels.select(
        F.col("node").alias("doc"), F.col("label").alias("cluster_rep")
    )
    # Detach from the persisted loop frame so callers get a plain
    # frame; the final labels stay cached until the session drops them
    # or the caller materializes. Small (one row per paired doc).
    return out


def _edge_checksum(edges: DataFrame) -> tuple:
    """(row count, sum of per-edge 64-bit hashes) — an order-free
    fingerprint of an edge set, one cheap aggregate per round instead
    of an old-vs-new anti-join."""
    row = edges.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(
            F.xxhash64(F.col("src"), F.col("dst")).cast("decimal(38,0)")
        ).alias("_h"),
    ).collect()[0]
    return (row["_n"], row["_h"])


def _duplicate_clusters_contract(
    pairs: DataFrame,
    id_a: str,
    id_b: str,
    max_rounds: int,
) -> DataFrame:
    """Connected components by repeated MIN-NEIGHBOR CONTRACTION with
    a guaranteed finish: each round every node merges into the minimum
    of its closed neighborhood, the surviving mapping composes into a
    persistent node→rep table, and the edge set is rewritten onto the
    contracted ids (self-loops dropped, duplicates collapsed).

    Round complexity: O(log n) when local minima are dispersed (the
    content-hash / random-id case — each round merges most nodes and
    the edge set shrinks geometrically), but a MONOTONE-id chain is
    the adversarial case: every interior node's closed-neighborhood
    minimum is its predecessor, so the chain contracts by only ~1
    node per round. Contraction therefore never claims convergence it
    didn't reach: if edges remain after ``max_rounds``, the residual
    contracted graph (already far smaller than the input) finishes on
    the alternating-star algorithm — O(log²) rounds REGARDLESS of
    shape — and the two mappings compose. The component minimum
    always maps to itself through both phases, so the final rep of
    every node is the smallest id in its component — the same
    contract as ``label``/``star`` and the recursive-CTE oracles.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    mapping = (
        pairs.select(F.col(id_a).alias("node"))
        .unionByName(pairs.select(F.col(id_b).alias("node")))
        .distinct()
        .withColumn("rep", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        if edges.isEmpty():
            break
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # lbl(u) = min(Γ(u) ∪ {u}) over the CONTRACTED graph — the id
        # u's super-node merges into this round.
        lbl = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("lbl")
        )
        new_mapping = (
            mapping.join(lbl, mapping.rep == lbl.src, "left")
            .select(
                F.col("node"),
                F.coalesce(F.col("lbl"), F.col("rep")).alias("rep"),
            )
            .localCheckpoint()
        )
        mapping = new_mapping
        a = lbl.select(F.col("src"), F.col("lbl").alias("_sa"))
        b = lbl.select(F.col("src").alias("dst"), F.col("lbl").alias("_sb"))
        new_edges = (
            sym.join(a, on="src")
            .join(b, on="dst")
            .select(
                F.least("_sa", "_sb").alias("src"),
                F.greatest("_sa", "_sb").alias("dst"),
            )
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        edges = new_edges
    if not edges.isEmpty():
        # Adversarial residual (monotone chains): finish with the
        # shape-independent O(log²) star algorithm on the contracted
        # graph and compose the mappings.
        residual = edges.select(
            F.col("src").alias("id_a"), F.col("dst").alias("id_b")
        )
        # The caller's budget is already spent — give the finisher its
        # own generous bound (star detects its fixpoint and stops
        # early; 64 rounds covers components far beyond any real
        # residual, which contraction has already shrunk).
        star = _duplicate_clusters_star(
            residual, "id_a", "id_b", max(max_rounds, 64)
        )
        mapping = (
            mapping.join(star, mapping.rep == star.doc, "left")
            .select(
                F.col("node"),
                F.coalesce(F.col("cluster_rep"), F.col("rep")).alias("rep"),
            )
            .localCheckpoint()
        )
    return mapping.select(
        F.col("node").alias("doc"), F.col("rep").alias("cluster_rep")
    )


def _duplicate_clusters_star(
    pairs: DataFrame,
    id_a: str,
    id_b: str,
    max_rounds: int,
) -> DataFrame:
    """Alternating large-star/small-star connected components.

    One round = large-star then small-star, each a groupBy + join on
    the node id (two shuffles per pass). Large-star hangs every
    neighbor larger than u off m(u) = min(Γ⁺(u)); small-star re-hangs
    u and its smaller non-min neighbors off min(Γ(u) ∩ [0,u)). Both
    passes preserve connectivity and monotonically pull components
    toward stars rooted at the component minimum; round count is
    O(log²) in component size, independent of diameter (vs
    O(diameter) for min-label propagation). Fixpoint = edge-set
    checksum unchanged over a full round; at the fixpoint every edge
    is (node, component_min).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    checksum = _edge_checksum(edges)
    converged = edges.isEmpty()
    for _ in range(max_rounds):
        if converged:
            break
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
        # Large-star at u: emit (v, m) for v ∈ Γ(u), v > u, where
        # m = min(Γ(u) ∪ {u}). Emitted as (larger, smaller) = (v, m).
        lmin = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        large = (
            sym.join(lmin, on="src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .persist()
        )
        lsym = large.unionByName(
            large.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
        # Small-star at u over N = Γ(u) ∩ [0, u): emit (u, m) and
        # (v, m) for v ∈ N \ {m}, where m = min(N).
        smaller = lsym.where(F.col("dst") < F.col("src"))
        smin = smaller.groupBy("src").agg(F.min("dst").alias("m"))
        hang_u = smin.select("src", F.col("m").alias("dst"))
        hang_v = (
            smaller.join(smin, on="src")
            .where(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        # localCheckpoint: truncate lineage every round (see the label
        # loop) — each round otherwise re-plans all prior rounds.
        new_edges = (
            hang_u.unionByName(hang_v)
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        new_checksum = _edge_checksum(new_edges)
        large.unpersist()
        edges = new_edges
        if new_checksum == checksum:
            converged = True
            break
        checksum = new_checksum
    if not converged:
        # Star rounds are O(log² component-size) regardless of shape,
        # so exhausting the budget means the caller passed a bound far
        # below any realistic need. A partial star forest would
        # silently violate the "rep == component minimum" contract —
        # fail loudly instead.
        raise RuntimeError(
            "duplicate_clusters(star) did not reach its fixpoint in "
            f"{max_rounds} rounds; raise max_iterations (star needs "
            "O(log^2 n) rounds — 64 covers any realistic graph)"
        )
    # Converged: edges are (node, component_min) stars. The roots
    # label themselves, matching the label-propagation contract.
    out = edges.select(
        F.col("src").alias("doc"), F.col("dst").alias("cluster_rep")
    ).unionByName(
        edges.select("dst").distinct().select(
            F.col("dst").alias("doc"), F.col("dst").alias("cluster_rep")
        )
    )
    # Docs that appear in `pairs` only via self-pairs (id_a == id_b)
    # were dropped with the self-loops; the contract returns every
    # paired doc, so re-attach them as their own trivial clusters.
    nodes = (
        pairs.select(F.col(id_a).alias("doc"))
        .unionByName(pairs.select(F.col(id_b).alias("doc")))
        .distinct()
    )
    singles = nodes.join(out, on="doc", how="left_anti").select(
        "doc", F.col("doc").alias("cluster_rep")
    )
    return out.unionByName(singles)


def fuzzy_pairs(
    df: DataFrame,
    string_column: str,
    id_column: str,
    max_distance: int = 1,
    max_block_frequency: int | None = None,
) -> DataFrame:
    """Edit-distance fuzzy matching as an EQUI-join: all pairs with
    ``levenshtein <= 1``, found by deletion-neighborhood blocking —
    each string blocks under itself plus every single-character
    deletion of itself, and two strings within one edit ALWAYS share a
    block (equal → the string itself; substitution at i → both i-th
    deletions; insert/delete → the shorter string). Candidate
    generation is a shuffle keyed on block strings — never an
    all-pairs crossJoin — and the exact ``levenshtein`` filter prunes
    block collisions afterwards, so the result is EXACT for
    ``max_distance <= 1`` (the entity-resolution sweet spot; larger
    radii need q-gram/trie blocking, a different operator).

    ``max_block_frequency`` optionally drops blocks shared by more
    than that many strings (the ngram_jaccard df-cap pattern): a
    viral block — thousands of strings one deletion apart, e.g.
    sequential serial numbers — emits O(df²) candidates, which IS the
    true output size, but capping keeps a poisoned corpus from
    quadratic blowup at the cost of recall on the hot block.

    Output: (id_a, id_b, dist), id_a < id_b, one row per pair — ids
    that appear with several distinct strings collapse to their
    minimum qualifying distance."""
    if max_distance not in (0, 1):
        raise ValueError(
            "deletion-neighborhood blocking is exact for max_distance <= 1; "
            f"got {max_distance}"
        )
    s = F.col(string_column)
    variants = F.array_union(
        F.array(s),
        F.when(
            F.length(s) > 0,
            F.transform(
                F.sequence(F.lit(1), F.length(s)),
                lambda i: F.concat(
                    s.substr(F.lit(1), i - 1),
                    s.substr(i + 1, F.length(s)),
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    blocks = df.select(
        F.col(id_column).alias("_id"),
        s.alias("_s"),
        F.explode(variants).alias("_block"),
    ).distinct()
    if max_block_frequency is not None:
        hot = (
            blocks.groupBy("_block")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_block_frequency)
            .select("_block")
        )
        blocks = blocks.join(hot, "_block", "left_anti")
    a = blocks.select(
        F.col("_block"), F.col("_id").alias("id_a"), F.col("_s").alias("_sa")
    )
    b = blocks.select(
        F.col("_block"), F.col("_id").alias("id_b"), F.col("_s").alias("_sb")
    )
    return (
        a.join(b, on="_block")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_sa", "_sb")
        .distinct()
        .select(
            "id_a",
            "id_b",
            F.levenshtein("_sa", "_sb").cast("long").alias("dist"),
        )
        .where(F.col("dist") <= max_distance)
        .groupBy("id_a", "id_b")
        .agg(F.min("dist").alias("dist"))
    )


def derived_band_bits(corpus_rows: int) -> int:
    """Band width that keeps RANDOM band collisions sub-quadratic:
    expected random candidate pairs per band ≈ n²/2^width, so width
    must track log₂(n) — the round-11 scale-bench finding (8-bit
    bands measured 44× candidate growth at 10× data because 2^8 ≪ n).
    width = ⌈log₂ n⌉ + 1 keeps expected random collisions ≲ n/2 per
    band, floored at 15 (the legacy 60-bit layout) and capped at 60
    (one md5 word per band)."""
    n = max(int(corpus_rows), 2)
    return min(60, max(15, (n - 1).bit_length() + 1))


def _simhash_band_values(
    tok: DataFrame, n_bands: int, width: int
) -> DataFrame:
    """Per-doc SimHash band values over an ``n_bands × width``-bit
    fingerprint: global bit j draws its ±1 token votes from bit
    ``j % 60`` of md5 word ``j // 60`` (word 0 is the plain
    ``md5(token)`` — so the 4×15 layout is bit-identical to the
    legacy single-long fingerprint — and word w is
    ``md5(token || '#w<w>')``). Returns (doc, _bands array<long>)
    where ``_bands[b]`` packs bits [b·width, (b+1)·width)."""
    total = n_bands * width
    n_words = (total + 59) // 60
    words = [
        F.conv(
            F.substring(
                F.md5(
                    F.col("token")
                    if w == 0
                    else F.concat(F.col("token"), F.lit(f"#w{w}"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        for w in range(n_words)
    ]
    votes = [
        F.sum(
            F.when(
                F.shiftright(words[j // 60], j % 60).bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"v_{j}")
        for j in range(total)
    ]
    per_doc = tok.groupBy("doc").agg(*votes)
    band_cols = []
    for b in range(n_bands):
        val = F.lit(0).cast("long")
        for i in range(width):
            bit = F.when(
                F.col(f"v_{b * width + i}") > 0, F.lit(1).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            val = val + F.shiftleft(bit, i)
        band_cols.append(val)
    return per_doc.select("doc", F.array(*band_cols).alias("_bands"))


def simhash_candidate_count(
    df: DataFrame,
    text_column: str,
    id_column: str,
    max_hamming: int = 3,
    band_bits: int | str = "auto",
) -> dict:
    """Measure the banded candidate-generation stage BEFORE the exact
    Hamming filter — the quantity that goes quadratic when band width
    lags log₂(n) (scale_bench records it per leg so candidate growth
    is reviewable, per the round-11 verdict). Returns
    {n_docs, n_bands, band_bits, n_candidates}."""
    n_docs = df.count()
    n_bands = max_hamming + 1
    width = (
        derived_band_bits(n_docs) if band_bits == "auto" else int(band_bits)
    )
    tok = df.select(
        F.col(id_column).alias("doc"),
        F.explode(tokens(F.col(text_column))).alias("token"),
    )
    bands_arr = _simhash_band_values(tok, n_bands, width)
    wide_b = bands_arr.select(
        "doc", F.posexplode("_bands").alias("band", "band_bits")
    )
    a = wide_b.alias("a")
    b_ = wide_b.alias("b")
    n_cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select("a.doc", "b.doc")
        .distinct()
        .count()
    )
    return {
        "n_docs": n_docs,
        "n_bands": n_bands,
        "band_bits": width,
        "n_candidates": n_cand,
    }


def simhash_pairs(
    df: DataFrame,
    text_column: str,
    id_column: str,
    max_hamming: int = 3,
    n_bands: int = 4,
    band_bits: int | str | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs: docs whose fingerprints differ in
    at most ``max_hamming`` bits.

    Pigeonhole banding keeps this an EQUI-join: with ``n_bands`` bands
    any pair within ``n_bands - 1`` flipped bits shares at least one
    identical band, so candidate generation is a shuffle on
    (band_id, band_bits) — never all-pairs — and the exact
    ``bit_count(xor)`` filter prunes band collisions afterwards.
    Requires ``max_hamming < n_bands`` for the guarantee.

    ``band_bits`` controls the band WIDTH, the knob that keeps random
    collisions sub-quadratic (the round-11 scale-bench finding:
    candidate pairs ∝ n²/2^width, so width must grow with log₂(n)):

    - ``None`` (legacy): one 60-bit fingerprint, width = 60 ÷
      n_bands — the declared tx12 layout, pinned for oracle parity.
    - ``"auto"``: counts the corpus and derives width via
      :func:`derived_band_bits` with ``n_bands = max_hamming + 1``
      (the fewest bands the guarantee allows — fewer band rows AND
      wider bands for the same total bits).
    - an int: that width, ``n_bands`` as passed.

    The widened fingerprint spans ``n_bands × band_bits`` bits drawn
    from per-token md5 words; Hamming distance is summed
    ``bit_count(xor)`` over the band longs (bands tile the bit space
    exactly). The 4-band 15-bit auto/int layout is bit-identical to
    the legacy path.
    """
    if band_bits == "auto":
        n_bands = max_hamming + 1
        band_bits = derived_band_bits(df.count())
    if band_bits is not None:
        if max_hamming >= n_bands:
            raise ValueError(
                f"banding guarantee needs max_hamming < n_bands; "
                f"got {max_hamming} >= {n_bands}"
            )
        tok = df.select(
            F.col(id_column).alias("doc"),
            F.explode(tokens(F.col(text_column))).alias("token"),
        )
        bands_arr = _simhash_band_values(tok, n_bands, int(band_bits))
        wide_b = bands_arr.select(
            "doc",
            "_bands",
            F.posexplode("_bands").alias("band", "band_bits"),
        )
        a = wide_b.alias("a")
        b_ = wide_b.alias("b")
        return (
            a.join(
                b_,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_bits") == F.col("b.band_bits"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .select(
                F.col("a.doc").alias("id_a"),
                F.col("b.doc").alias("id_b"),
                F.aggregate(
                    F.zip_with(
                        F.col("a._bands"),
                        F.col("b._bands"),
                        lambda x, y: F.bit_count(x.bitwiseXOR(y)),
                    ),
                    F.lit(0),
                    lambda acc, v: acc + v,
                ).alias("hamming"),
            )
            .where(F.col("hamming") <= max_hamming)
            .distinct()
        )
    if max_hamming >= n_bands:
        raise ValueError(
            f"banding guarantee needs max_hamming < n_bands; "
            f"got {max_hamming} >= {n_bands}"
        )
    bits = 60
    width = bits // n_bands
    fp = simhash(df, text_column, id_column)
    mask = (1 << width) - 1
    # All bands in ONE projection + unpivot, so the simhash subtree is
    # planned once per join side — a per-band union would re-execute
    # the fingerprint aggregation n_bands times per side.
    wide = fp.select(
        "doc",
        "simhash",
        *[
            F.shiftright(F.col("simhash"), b * width)
            .bitwiseAND(F.lit(mask))
            .alias(f"_bb_{b}")
            for b in range(n_bands)
        ],
    )
    bands = wide.unpivot(
        ids=["doc", "simhash"],
        values=[f"_bb_{b}" for b in range(n_bands)],
        variableColumnName="band",
        valueColumnName="band_bits",
    )
    a = bands.alias("a")
    b_ = bands.alias("b")
    pairs = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_column: str,
    id_column: str,
    n: int = 8,
) -> DataFrame:
    """Benchmark-contamination audit: for every corpus document, the
    fraction of its distinct word ``n``-gram shingles that also occur
    anywhere in the benchmark set.

    This is the standard decontamination primitive for training-data
    pipelines (n-gram overlap against held-out eval sets, as in the
    GPT-3/PaLM data cards). North-star extension — no reference
    counterpart; the shingle machinery is shared with
    :func:`ngram_jaccard_pairs`.

    Scale posture: the benchmark side is small by definition (eval sets
    are KBs-to-MBs, the corpus is the 100 TB side), so its distinct
    shingle set is **broadcast** — the corpus is never shuffled, the
    per-doc flags come from one map-side hash-join plus a groupBy on
    doc id (partial aggregation makes that shuffle O(docs)).
    """
    bench_shingles = (
        _shingle_rows(benchmark, text_column, id_column, n)
        .select("shingle")
        .distinct()
    )
    corpus_shingles = _shingle_rows(corpus, text_column, id_column, n)
    flagged = corpus_shingles.join(
        F.broadcast(bench_shingles).withColumn("_hit", F.lit(1)),
        "shingle",
        "left",
    )
    return (
        flagged.groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_contaminated"),
        )
        .select(
            F.col("doc").alias(id_column),
            "n_shingles",
            "n_contaminated",
            F.round(
                F.col("n_contaminated") / F.col("n_shingles"), 6
            ).alias("contamination_ratio"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    text_column: str,
    id_column: str,
    n: int = 8,
) -> DataFrame:
    """Exact duplicate-span detection: per document, how many of its
    word ``n``-gram spans (counted WITH within-document multiplicity)
    also occur in at least one OTHER document.

    The span-level analogue of exact dedup — the primitive behind
    "deduplicating training data makes language models better"
    (Lee et al. 2022) substring dedup, expressed relationally: a span
    is duplicated iff its content key appears in >= 2 distinct docs.
    Suffix-array machinery is unnecessary for fixed n: the shingle
    content IS the span key.

    Scale posture: two shingle-keyed exchanges (distinct doc-frequency
    count, then the flag join) and one doc-keyed aggregation. The
    doc-frequency side is pre-shrunk to distinct (doc, shingle) before
    the groupBy, so partial aggregation bounds the shuffle by corpus
    vocabulary, not span count. Hot spans (boilerplate) fan out only
    into the flag join where they are genuine output.
    """
    spans = _shingle_rows(df, text_column, id_column, n, distinct=False)
    dup_set = (
        spans.select("doc", "shingle")
        .distinct()
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") >= 2)
        .select("shingle", F.lit(1).alias("_dup"))
    )
    flagged = spans.join(dup_set, "shingle", "left")
    return (
        flagged.groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.coalesce(F.sum("_dup"), F.lit(0)).alias("n_dup_spans"),
        )
        .select(
            F.col("doc").alias(id_column),
            "n_spans",
            "n_dup_spans",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6).alias(
                "dup_span_ratio"
            ),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_column: str,
    id_column: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_frequency: int | None = None,
) -> DataFrame:
    """ASYMMETRIC containment |A∩B| / |A|: how much of document A's
    shingle set lives inside B. The dedup score Jaccard cannot
    express — a 50-shingle snippet fully embedded in a 5000-shingle
    page has Jaccard ~0.01 but containment 1.0 — which is exactly the
    quote/boilerplate/subset case corpus curation needs to catch
    (Broder's original resemblance/containment pair, 1997).

    Same scale shape as :func:`ngram_jaccard_pairs`: inverted-index
    self-join on shingle (docs meet only on shared shingles), df-cap
    pruning against viral shingles, sizes joined back on doc id
    (unhinted: `sizes` is one row per document, so it scales with
    the corpus — AQE broadcasts it only when small). Each
    undirected common-count expands to both directions before the
    threshold, so the output names (id_small = the contained side).
    """
    shing = _shingle_rows(df, text_column, id_column, n)
    sizes = shing.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    if max_doc_frequency is not None:
        hot = (
            shing.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_doc_frequency)
            .select("shingle")
        )
        shing = shing.join(hot, on="shingle", how="left_anti")
    a = shing.alias("a")
    b = shing.alias("b")
    common = (
        a.join(b, on="shingle")
        .where(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    # Join both sizes once and EXPLODE the two directed rows — a
    # union of two selects over `common` would recompute the whole
    # shingle self-join per branch (measured 28s -> 3s at sf0.01).
    paired = common.join(
        sizes.withColumnRenamed("doc", "id_a").withColumnRenamed(
            "n_shingles", "size_a"
        ),
        on="id_a",
    ).join(
        sizes.withColumnRenamed("doc", "id_b").withColumnRenamed(
            "n_shingles", "size_b"
        ),
        on="id_b",
    )
    directed = F.explode(
        F.array(
            F.struct(
                F.col("id_a").alias("id_small"),
                F.col("id_b").alias("id_large"),
                (F.col("common") / F.col("size_a")).alias("_raw"),
            ),
            F.struct(
                F.col("id_b").alias("id_small"),
                F.col("id_a").alias("id_large"),
                (F.col("common") / F.col("size_b")).alias("_raw"),
            ),
        )
    )
    return (
        paired.select(directed.alias("_d"))
        .select("_d.*")
        .where(F.col("_raw") >= threshold)
        .select(
            "id_small",
            "id_large",
            F.round(F.col("_raw"), 6).alias("containment"),
        )
    )


def ingest_novelty(
    batch: DataFrame,
    corpus: DataFrame,
    text_column: str,
    id_column: str,
    n: int = 3,
    near_threshold: float = 0.5,
) -> DataFrame:
    """Incremental-ingest dedup manifest: classify every document of a
    (small) new BATCH against the (huge) existing corpus as
    ``exact_dup`` (content hash already present), ``near_dup``
    (≥ ``near_threshold`` of its distinct word n-gram shingles occur
    somewhere in the corpus), or ``novel`` — the admit/reject decision
    table a daily corpus ingest produces.

    Scale posture — the INVERSE of contamination_check's broadcast
    direction, because here the corpus is the 100-TB side: the batch's
    hash set and shingle set broadcast as probes, the corpus is
    scanned ONCE per probe with a map-side broadcast semi-join (never
    shuffled), and only the matched-probe sets (≤ batch-sized) flow
    onward. Output: (id, n_shingles, containment, verdict).
    """
    batch_hashes = batch.select(
        F.col(id_column), F.md5(F.col(text_column)).alias("_h")
    )
    matched_hashes = (
        corpus.select(F.md5(F.col(text_column)).alias("_h"))
        .join(
            F.broadcast(batch_hashes.select("_h").distinct()),
            "_h",
            "left_semi",
        )
        .distinct()
    )
    exact = batch_hashes.join(
        F.broadcast(matched_hashes.withColumn("_exact", F.lit(1))),
        "_h",
        "left",
    ).select(id_column, F.coalesce("_exact", F.lit(0)).alias("_exact"))

    batch_sh = _shingle_rows(batch, text_column, id_column, n)
    probe = batch_sh.select("shingle").distinct()
    corpus_hits = (
        _shingle_rows(corpus, text_column, id_column, n)
        .select("shingle")
        .join(F.broadcast(probe), "shingle", "left_semi")
        .distinct()
    )
    contained = (
        batch_sh.join(
            F.broadcast(corpus_hits.withColumn("_hit", F.lit(1))),
            "shingle",
            "left",
        )
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("_n_hit"),
        )
        .select(
            F.col("doc").alias(id_column),
            "n_shingles",
            F.round(F.col("_n_hit") / F.col("n_shingles"), 6).alias(
                "containment"
            ),
        )
    )
    # Coalesce BEFORE the verdict: a zero-shingle doc's containment is
    # NULL off the left join, and NULL >= threshold is NULL (falsy) —
    # the verdict must judge the same 0.0 the output row reports.
    joined = exact.join(contained, on=id_column, how="left").select(
        F.col(id_column),
        F.col("_exact"),
        F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
        F.coalesce("containment", F.lit(0.0)).alias("containment"),
    )
    verdict = (
        F.when(F.col("_exact") == 1, F.lit("exact_dup"))
        .when(F.col("containment") >= near_threshold, F.lit("near_dup"))
        .otherwise(F.lit("novel"))
    )
    return joined.select(
        id_column, "n_shingles", "containment", verdict.alias("verdict")
    )


def dedup_lines(
    df: DataFrame,
    text_column: str,
    id_column: str,
    words_per_line: int = 4,
) -> DataFrame:
    """C4-style LINE-level corpus dedup (Raffel et al. 2020 §2.2
    deduplicates three-sentence spans; Dodge et al. 2021 audits the
    result): every document is cut into consecutive non-overlapping
    ``words_per_line``-word lines, and only the FIRST global
    occurrence of each normalized line (ordered by doc id, then line
    position) is kept — repeated boilerplate beyond the first sighting
    is flagged for removal. Complements :func:`duplicate_spans`, which
    COUNTS sliding n-gram overlap but keeps everything: this one makes
    the keep/drop decision that rewrites the corpus.

    The line slicing happens INSIDE the array domain — one
    ``transform`` over block indices with ``slice``/``array_join`` on
    the already-split word array — so no word-level explode ever hits
    the shuffle; the only exchanges are the line-key groupBy (partial
    aggregation shrinks it to distinct lines) and the key-keyed flag
    join back.

    Returns one row per line: (id, line_pos, line_key, kept). A
    doc's tail shorter than ``words_per_line`` words is not a line.
    """
    if words_per_line < 1:
        raise ValueError("words_per_line must be >= 1")
    arr = F.split(F.col(text_column), " ")
    nblk = F.floor(F.size(arr) / words_per_line).cast("int")
    blocks = F.when(
        nblk > 0,
        F.transform(
            F.sequence(F.lit(0), nblk - 1),
            lambda b: F.lower(
                F.trim(
                    F.array_join(
                        F.slice(arr, b * words_per_line + 1, words_per_line),
                        " ",
                    )
                )
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    lines = df.select(
        F.col(id_column), F.posexplode(blocks).alias("line_pos", "line_key")
    )
    firsts = lines.groupBy("line_key").agg(
        F.min(
            F.struct(
                F.col(id_column).alias("_d"), F.col("line_pos").alias("_p")
            )
        ).alias("_first")
    )
    return lines.join(firsts, on="line_key").select(
        id_column,
        "line_pos",
        "line_key",
        (
            (F.col("_first._d") == F.col(id_column))
            & (F.col("_first._p") == F.col("line_pos"))
        ).alias("kept"),
    )


def _positional_anchor_rows(
    df: DataFrame,
    text_column: str,
    id_column: str,
    n: int,
) -> DataFrame:
    """(doc, pos, shingle) rows: every word ``n``-gram anchor with its
    0-based TOKEN start position. Same one-pass lookahead regex as
    :func:`_shingle_rows`; the posexplode index IS the token index,
    because each match consumes exactly one token, the chain starts at
    token 0, and once the lookahead fails (the last n-1 tokens) no
    later start can see n tokens ahead."""
    norm = normalized_text(F.col(text_column))
    pat = "(?=(" + " ".join(["[a-z0-9]+"] * n) + "))[a-z0-9]+ ?"
    return df.select(
        F.col(id_column).alias("doc"),
        F.posexplode(F.regexp_extract_all(norm, F.lit(pat), 1)).alias(
            "pos", "shingle"
        ),
    )


def _merge_islands(dup_pos: DataFrame, n: int) -> DataFrame:
    """Merge (doc, pos) anchor starts — each covering token interval
    [pos, pos+n-1] — into maximal union intervals (classic
    gaps-and-islands): a new island starts when the gap to the
    previous anchor exceeds ``n`` (coverage would no longer touch).
    Returns (doc, span_start, span_end, span_len) in token positions,
    end inclusive."""
    w = Window.partitionBy("doc").orderBy("pos")
    run = (
        Window.partitionBy("doc")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = dup_pos.withColumn("_prev", F.lag("pos").over(w)).withColumn(
        "_new",
        F.when(
            F.col("_prev").isNull() | (F.col("pos") - F.col("_prev") > n),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return (
        flagged.withColumn("_island", F.sum("_new").over(run))
        .groupBy("doc", "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (n - 1)).alias("span_end"),
        )
        .select(
            "doc",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


def duplicate_substring_spans(
    df: DataFrame,
    text_column: str,
    id_column: str,
    min_tokens: int = 8,
) -> DataFrame:
    """Exact duplicate-SUBSTRING spans, the ExactSubstr dedup of Lee
    et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better", §4.1) re-expressed relationally: the maximal token
    intervals COVERED by duplicated ``min_tokens``-gram anchors
    (counting within-document repeats, as the paper's suffix array
    does). A duplicated substring of length L >= n is exactly a run of
    L-n+1 duplicated anchors, so every duplicated substring lies
    inside one returned span; coverage-union semantics mean a span can
    also bridge two distinct duplicated passages whose anchor coverage
    touches (gap <= n), so not every sub-n-gram of a span is itself
    duplicated — no suffix array needed for a fixed minimum length.

    Scale posture: one anchor-keyed aggregation (partial agg shrinks
    the shuffle to corpus vocabulary) + the flag join, then one
    doc-keyed window for the islands merge — the window partitions by
    document, so no global sort exists. Viral boilerplate anchors fan
    out only into the flag join, where they are genuine output.

    Returns (id, span_start, span_end, span_len): maximal duplicated
    spans in 0-based token positions, end inclusive.
    """
    if min_tokens < 2:
        raise ValueError("min_tokens must be >= 2")
    anchors = _positional_anchor_rows(df, text_column, id_column, min_tokens)
    dup_set = (
        anchors.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .where(F.col("_cnt") >= 2)
        .select("shingle")
    )
    dup_pos = anchors.join(dup_set, "shingle", "left_semi").select(
        "doc", "pos"
    )
    return _merge_islands(dup_pos, min_tokens).select(
        F.col("doc").alias(id_column), "span_start", "span_end", "span_len"
    )


def strip_duplicate_substrings(
    df: DataFrame,
    text_column: str,
    id_column: str,
    min_tokens: int = 8,
) -> DataFrame:
    """The REMOVAL half of ExactSubstr dedup (Lee et al. 2022): drop
    every duplicated substring from all but its globally-first
    occurrence. Keep-first is decided at the anchor level — an n-gram
    occurrence survives iff it is the minimum (doc id, position)
    occurrence of its content — and the tokens covered by non-kept
    duplicated anchors are removed; what remains is the doc's
    deduplicated text. Tokenization is the shared [a-z0-9]+ word
    normalization of the shingle family.

    Scale posture: the keeper table is ONE partial-aggregatable
    groupBy (count + min-struct per anchor content — no sort window
    over anchor keys, so a viral boilerplate anchor never serializes
    through a single task's sort); removal coverage merges to maximal
    islands BEFORE the position explode, so fanout is span-sized, not
    anchor-count x n. Reassembly is one doc-keyed aggregation.

    Returns one row per input document:
    (id, n_tokens, n_removed, clean_md5) where clean_md5 is the md5 of
    the kept tokens joined by single spaces ('' when everything was
    removed) — the value-verifiable fingerprint of the rewritten
    corpus without shipping the full text through the comparator.
    """
    if min_tokens < 2:
        raise ValueError("min_tokens must be >= 2")
    anchors = _positional_anchor_rows(df, text_column, id_column, min_tokens)
    keepers = anchors.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.min(
            F.struct(F.col("doc").alias("_d"), F.col("pos").alias("_p"))
        ).alias("_first"),
    )
    removable = (
        anchors.join(keepers, on="shingle")
        .where(
            (F.col("_cnt") >= 2)
            & ~(
                (F.col("_first._d") == F.col("doc"))
                & (F.col("_first._p") == F.col("pos"))
            )
        )
        .select("doc", "pos")
    )
    rm_pos = _merge_islands(removable, min_tokens).select(
        "doc", F.explode(F.sequence("span_start", "span_end")).alias("pos")
    )
    norm = normalized_text(F.col(text_column))
    toks = df.select(
        F.col(id_column).alias("doc"),
        F.posexplode(F.split(norm, " ")).alias("pos", "tok"),
    )
    kept = (
        toks.join(rm_pos, on=["doc", "pos"], how="left_anti")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("_n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("pos"), F.col("tok"))
                        )
                    ),
                    lambda s: s.tok,
                ),
                " ",
            ).alias("_clean"),
        )
    )
    totals = df.select(
        F.col(id_column).alias("doc"),
        F.size(F.split(norm, " ")).cast("long").alias("n_tokens"),
    )
    return (
        totals.join(kept, on="doc", how="left")
        .select(
            F.col("doc").alias(id_column),
            "n_tokens",
            (
                F.col("n_tokens") - F.coalesce(F.col("_n_kept"), F.lit(0))
            ).alias("n_removed"),
            F.md5(F.coalesce(F.col("_clean"), F.lit(""))).alias("clean_md5"),
        )
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_column: str,
    id_column: str,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS local fingerprinting algorithm): hash every
    ORDERED k-gram of the token stream, slide a window of ``w``
    consecutive hashes, and keep each window's MINIMUM hash value.
    Guarantee: any token run of length >= w + k - 1 shared by two
    documents contributes at least one IDENTICAL fingerprint to both —
    unlike MinHash (a probabilistic whole-document sketch), winnowing
    is POSITION-LOCAL, so it catches a long plagiarized passage inside
    an otherwise unrelated document, at ~2/(w+1) of the k-gram count.

    This variant keeps fingerprint VALUES only (the distinct window
    minima; selection position/tie rules therefore don't matter),
    which preserves the guarantee and makes the selection expressible
    as one windowed MIN on both engines. Only FULL windows select
    (tail windows shorter than ``w`` are excluded on both sides).

    Hashes are the portable md5-prefix bigints (the minhash/tx35
    convention), so DuckDB replays them exactly. Scale shape: one
    doc-keyed window pass (lead + frame-min — the ordered dual of the
    shingle rollup), one distinct; output is (id, fingerprint),
    ~2/(w+1) rows per token. Downstream pair-joins should df-cap hot
    fingerprints exactly like :func:`ngram_jaccard_pairs` caps viral
    shingles."""
    if k < 1 or w < 2:
        raise ValueError(f"need k >= 1 and w >= 2, got k={k}, w={w}")
    toks = df.select(
        F.col(id_column).alias("doc"),
        F.posexplode(tokens(F.col(text_column))).alias("pos", "_t0"),
    )
    order = Window.partitionBy("doc").orderBy("pos")
    parts = [F.col("_t0")] + [
        F.lead("_t0", i).over(order) for i in range(1, k)
    ]
    grams = toks.select(
        "doc",
        "pos",
        F.concat_ws(" ", *parts).alias("_gram"),
        parts[-1].alias("_last"),
    ).where(F.col("_last").isNotNull())
    hashed = grams.select(
        "doc",
        "pos",
        F.conv(F.substring(F.md5("_gram"), 1, 15), 16, 10)
        .cast("long")
        .alias("_h"),
    )
    frame = Window.partitionBy("doc").orderBy("pos").rowsBetween(0, w - 1)
    winmin = hashed.select(
        "doc",
        F.min("_h").over(frame).alias("fingerprint"),
        F.count(F.lit(1)).over(frame).alias("_c"),
    ).where(F.col("_c") == w)
    return winmin.select(
        F.col("doc").alias(id_column), "fingerprint"
    ).distinct()
