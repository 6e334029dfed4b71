"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — probe set is broadcast, the corpus
is scanned once, the dot product runs as a JVM higher-order function
(``aggregate`` over ``zip_with``), and top-k per probe is a ranking
window over (probe, corpus-partition) partial results.

Scale path: random-hyperplane LSH bucketing — probes and corpus rows
hash to sign-pattern buckets; candidate generation is an equi-join on
the bucket id instead of the full cross product. Hyperplanes are
generated from a deterministic integer LCG so the same buckets are
reproducible anywhere (and expressible in the SQL oracle).

All accumulation happens in float64 in array-index order, which makes
the scores deterministic for a given pair — but note cross-engine
float comparisons are still the weakest parity surface; oracle-checked
variants therefore rank by scaled-integer scores.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from changedatacapture_spark.operators.layout import fan_out_scan


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in float64, index order (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm_sq(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Top-k nearest corpus vectors per probe by cosine similarity.

    Returns ``probe_id, neighbor_id, score_scaled, rk`` where
    ``score_scaled = floor(scale * cos(a,b))`` — a scaled integer so
    ranking and equality are exact across engines.

    Physical shape: ``probes`` is broadcast (it is the small side by
    construction); the corpus scan computes all pair scores in one
    codegen stage; top-k is ``row_number`` over the probe partition.
    Self-pairs are excluded.
    """
    from pyspark.sql import Window as W

    p = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
    )
    # all pair scores evaluate in the corpus scan stage: fan a narrow
    # (single-row-group) corpus out first so the codegen stage runs
    # cluster-wide, not on the scan's one task
    c = fan_out_scan(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("corpus_vec")
        )
    )
    pair = c.crossJoin(F.broadcast(p)).filter(
        F.col("probe_id") != F.col("neighbor_id")
    )
    cos = dot(F.col("probe_vec"), F.col("corpus_vec")) / (
        F.sqrt(l2_norm_sq(F.col("probe_vec"))) * F.sqrt(l2_norm_sq(F.col("corpus_vec")))
    )
    scored = pair.select(
        "probe_id",
        "neighbor_id",
        F.floor(cos * scale).cast("long").alias("score_scaled"),
    )
    w = W.partitionBy("probe_id").orderBy(
        F.col("score_scaled").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("probe_id", "neighbor_id", "score_scaled", "rk")
    )


def quantize_int8(vec: Column) -> Column:
    """Symmetric int8 codes for a float vector: round(x·127/max|x|),
    each in [-127, 127] (see ``queries.emb_quantize_int8`` for the
    exploded oracle form). Integer codes make downstream dot products
    EXACT integer arithmetic — bit-identical across engines and 4×
    smaller to shuffle than float32."""
    maxabs = F.nullif(
        F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double")))),
        F.lit(0.0),
    )
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * 127 / maxabs).cast("long")
    )


def int_dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ over integer code vectors — exact (no float folding)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def int8_cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Top-k by cosine over int8-QUANTIZED vectors — the memory-bound
    ANN configuration (quantized codes in the scan, full precision
    reserved for a re-rank stage the caller owns).

    Each side quantizes and computes its own squared norm ONCE before
    the join, so the pair stage is a single exact integer dot product
    plus one float divide — and the shuffled/broadcast payload is the
    int8 code vector, a quarter of the float32 bytes. Zero vectors
    (quantization undefined) are excluded identically in the oracle.

    Returns ``probe_id, neighbor_id, score_scaled, rk`` with
    ``score_scaled = floor(scale · q_cos)`` — deterministic because
    the dot and both norms are exact integers and the divide/sqrt are
    single IEEE-754 operations."""
    from pyspark.sql import Window as W

    def side(df: DataFrame, idn: str, qn: str, nn: str) -> DataFrame:
        nonzero = (
            F.array_max(
                F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
            )
            > 0
        )
        out = df.filter(nonzero).select(
            F.col(id_col).alias(idn), quantize_int8(F.col(vec_col)).alias(qn)
        )
        return out.withColumn(nn, int_dot(F.col(qn), F.col(qn)))

    p = side(probes, "probe_id", "pq", "pn")
    c = side(corpus, "neighbor_id", "cq", "cn")
    pair = c.crossJoin(F.broadcast(p)).filter(
        F.col("probe_id") != F.col("neighbor_id")
    )
    cos = int_dot(F.col("pq"), F.col("cq")).cast("double") / F.sqrt(
        (F.col("pn") * F.col("cn")).cast("double")
    )
    scored = pair.select(
        "probe_id",
        "neighbor_id",
        F.floor(cos * scale).cast("long").alias("score_scaled"),
    )
    w = W.partitionBy("probe_id").orderBy(
        F.col("score_scaled").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("probe_id", "neighbor_id", "score_scaled", "rk")
    )


def _lcg_plane(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane coefficient in [-1, 1).

    Plain integer LCG (numerical-recipes constants) — reproducible in
    any engine with 64-bit integer arithmetic.
    """
    x = (1103515245 * (plane * 257 + dim) + 12345) % 2147483648
    return (x / 2147483648.0) * 2.0 - 1.0


def lsh_bucket(vec_col: str, n_planes: int = 8, dim: int = 64) -> Column:
    """Sign-pattern LSH bucket id for a vector column.

    bucket = Σ_p 2^p · [vec · plane_p ≥ 0]; planes from the LCG above.
    The plane matrix is a literal array-of-arrays folded with
    higher-order functions (index-order float64 accumulation from 0.0
    — the same addition sequence as an explicit left-associated sum,
    so buckets stay bit-identical to the oracle's spelled-out terms)
    instead of n_planes·dim inlined product terms that Catalyst would
    codegen-compile per query.
    """
    matrix = ", ".join(
        "array(" + ", ".join(repr(_lcg_plane(p, d)) for d in range(dim)) + ")"
        for p in range(n_planes)
    )
    projs = (
        f"transform(array({matrix}), c -> "
        f"aggregate(zip_with({vec_col}, c, (x, w) -> CAST(x AS DOUBLE) * w), "
        f"CAST(0 AS DOUBLE), (acc, x) -> acc + x))"
    )
    return F.expr(
        f"aggregate(zip_with({projs}, sequence(0, {n_planes - 1}), "
        f"(s, p) -> IF(s >= 0, shiftleft(CAST(1 AS BIGINT), CAST(p AS INT)), "
        f"CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold_scaled: int = 250_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    dim: int = 64,
    scale: int = 1_000_000,
    max_bucket_size: int | None = None,
    window: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the vector analogue of
    MinHash dedup): candidate pairs share an LSH sign-pattern bucket,
    survivors have ``cos ≥ threshold_scaled / scale``.

    The bucket self-equi-join shuffles each row once on a small integer
    key; the O(n²) cross product never materializes. Recall/cost trades
    via ``n_planes`` exactly as in :func:`cosine_topk_lsh`.

    ``max_bucket_size`` is the HUB GUARD (the discipline
    ``lsh_candidate_pairs`` applies to MinHash bands): with it set,
    only buckets of at most that size run the exhaustive in-bucket
    self-join; HOT buckets fall back to the rank-successor CHAIN
    (each member vs its ``window`` successors — the
    :func:`embedding_neardup_pairs_chained` move), so total candidate
    volume is ≤ n·max(max_bucket_size/2, window): LINEAR in the corpus
    by construction. Without a cap the in-bucket all-pairs emission is
    Θ(Σ bucket²) — measured QUADRATIC on clustered corpora (8.9M
    in-bucket pairs at 20k vectors → 895M at 200k, PERF_r10 §3),
    which is why every registered query sets the cap. Unlike the
    MinHash guard, nothing is dropped: hot buckets keep chain
    connectivity for the downstream closure, and
    :func:`embedding_hot_buckets` is the audit of which buckets took
    which path.

    Output: ``vec_a, vec_b, score_scaled`` (vec_a < vec_b).
    """
    bucket = lsh_bucket(vec_col, n_planes, dim)
    tagged = corpus.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"), bucket.alias("bucket")
    )
    if max_bucket_size is None:
        a = tagged.select(
            F.col("vid").alias("vec_a"), F.col("vec").alias("va"), "bucket"
        )
        b = tagged.select(
            F.col("vid").alias("vec_b"), F.col("vec").alias("vb"), "bucket"
        )
        pair = a.join(b, "bucket").filter(F.col("vec_a") < F.col("vec_b"))
    else:
        from pyspark.sql import Window as W

        # bucket census is ≤ 2^n_planes rows — broadcast; the barrier
        # (eager localCheckpoint) prevents the self-join
        # attribute-rebinding failure documented in the chained
        # variant and computes the bucket projection + rank once
        counts = tagged.groupBy("bucket").agg(F.count(F.lit(1)).alias("bn"))
        ranked = (
            tagged.join(F.broadcast(counts), "bucket")
            .withColumn(
                "lr", F.row_number().over(W.partitionBy("bucket").orderBy("vid"))
            )
            .localCheckpoint(eager=True)
        )
        small = ranked.filter(F.col("bn") <= max_bucket_size)
        sa = small.select(
            F.col("vid").alias("vec_a"), F.col("vec").alias("va"), "bucket"
        )
        sb = small.select(
            F.col("vid").alias("vec_b"), F.col("vec").alias("vb"), "bucket"
        )
        pair_small = sa.join(sb, "bucket").filter(F.col("vec_a") < F.col("vec_b"))
        hot = ranked.filter(F.col("bn") > max_bucket_size)
        probe = hot.select(
            F.col("vid").alias("vec_a"),
            F.col("vec").alias("va"),
            "bucket",
            F.explode(
                F.sequence(F.col("lr") + 1, F.col("lr") + window)
            ).alias("lr_b"),
        )
        succ = hot.select(
            F.col("vid").alias("vec_b"),
            F.col("vec").alias("vb"),
            "bucket",
            F.col("lr").alias("lr_b"),
        )
        pair_hot = probe.join(succ, ["bucket", "lr_b"])
        cols = ["vec_a", "va", "vec_b", "vb"]
        pair = pair_small.select(cols).unionByName(pair_hot.select(cols))
    cos = dot(F.col("va"), F.col("vb")) / (
        F.sqrt(l2_norm_sq(F.col("va"))) * F.sqrt(l2_norm_sq(F.col("vb")))
    )
    return (
        pair.select(
            "vec_a",
            "vec_b",
            F.floor(cos * scale).cast("long").alias("score_scaled"),
        )
        .filter(F.col("score_scaled") >= threshold_scaled)
    )


def embedding_hot_buckets(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    dim: int = 64,
    max_bucket_size: int = 20,
    window: int = 4,
) -> DataFrame:
    """Audit of the embedding hub guard: per LSH bucket, its size, the
    comparison mode :func:`embedding_neardup_pairs` takes for it under
    ``max_bucket_size`` (``allpairs`` vs ``chained``), and the EXACT
    candidate-pair count that mode emits — the report a pipeline
    publishes instead of silently changing dedup coverage (the same
    contract as ``lsh_hot_buckets`` for MinHash bands).

    Chained count per bucket: Σ_members min(window, bn - rank)
    = w·bn - w(w+1)/2 when bn > w, else the full bn(bn-1)/2.
    """
    bucket = lsh_bucket(vec_col, n_planes, dim)
    w = window
    return (
        corpus.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .select(
            "bucket",
            "n_members",
            F.when(F.col("n_members") <= max_bucket_size, F.lit("allpairs"))
            .otherwise(F.lit("chained"))
            .alias("mode"),
            F.when(
                F.col("n_members") <= max_bucket_size,
                (F.col("n_members") * (F.col("n_members") - 1)) / 2,
            )
            .otherwise(
                F.when(
                    F.col("n_members") > w,
                    w * F.col("n_members") - w * (w + 1) / 2,
                ).otherwise((F.col("n_members") * (F.col("n_members") - 1)) / 2)
            )
            .cast("long")
            .alias("n_candidates"),
        )
    )


def embedding_neardup_pairs_chained(
    corpus: DataFrame,
    threshold_scaled: int = 250_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    window: int = 4,
    dim: int = 64,
    scale: int = 1_000_000,
) -> DataFrame:
    """Embedding near-dup pairs with BOUNDED per-bucket comparisons —
    the linear-candidate variant of :func:`embedding_neardup_pairs`.

    Why it exists (measured, sf1→sf10 synthetic corpus): all-pairs
    emission inside LSH buckets is Θ(Σ bucket²). On a clustered corpus
    hot buckets grow linearly with the corpus, so candidate volume
    grows QUADRATICALLY no matter how many planes or bands cut the
    bucket count — 8.9M in-bucket pairs at 20k vectors became 895M at
    200k with the 6-plane layout, and even 32 planes only shaved a
    constant (21M). When the duplicate clusters themselves are large,
    the all-pairs OUTPUT is inherently quadratic; a dedup pipeline
    doesn't need it — it needs group CONNECTIVITY.

    This operator chains instead of cross-joining: within each bucket,
    members are ranked by id and each member is compared only to its
    ``window`` rank-successors — at most ``n * window`` candidate
    pairs, linear in the corpus. A tight cluster (every consecutive
    pair above threshold) stays fully connected through the chain, so
    the downstream transitive closure recovers the same groups;
    loosely-connected clusters may fragment — the documented trade
    that buys linearity (the same one SNM makes for text).

    The per-bucket rank is a window partitioned by bucket: ranks are
    bucket-local (no global offsets needed), every bucket sorts in
    parallel on the spillable external sorter, and the successor step
    is an EQUI-join on (bucket, rank). Output:
    ``vec_a, vec_b, score_scaled`` with ``vec_a < vec_b`` (rank order
    = id order inside a bucket).
    """
    from pyspark.sql import Window as W

    # the ranked relation is materialized ONCE (eager localCheckpoint)
    # before the self-join, for two reasons: (a) without a hard
    # barrier, Catalyst's projection collapse + self-join
    # de-duplication nondeterministically re-binds the bucket
    # expression against the renamed branch schema and the executor
    # dies with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND (reproduced at sf1
    # under AQE; a DataFrame-alias-only fix still failed one run in
    # three); (b) it makes the bucket projection + per-bucket rank
    # window compute once instead of once per join branch. On a real
    # cluster swap for reliable checkpoint against a checkpoint dir —
    # the same note as connected_components.
    ranked = (
        corpus.select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
        )
        .withColumn("bucket", lsh_bucket("vec", n_planes, dim))
        .withColumn(
            "lr", F.row_number().over(W.partitionBy("bucket").orderBy("vid"))
        )
        .localCheckpoint(eager=True)
    )
    r = ranked.alias("r")
    s = ranked.alias("s")
    probe = r.select(
        F.col("r.vid").alias("vec_a"),
        F.col("r.vec").alias("va"),
        F.col("r.bucket").alias("bucket"),
        F.explode(
            F.sequence(F.col("r.lr") + 1, F.col("r.lr") + window)
        ).alias("lr_b"),
    )
    succ = s.select(
        F.col("s.vid").alias("vec_b"),
        F.col("s.vec").alias("vb"),
        F.col("s.bucket").alias("bucket"),
        F.col("s.lr").alias("lr_b"),
    )
    pair = probe.join(succ, ["bucket", "lr_b"])
    cos = dot(F.col("va"), F.col("vb")) / (
        F.sqrt(l2_norm_sq(F.col("va"))) * F.sqrt(l2_norm_sq(F.col("vb")))
    )
    return (
        pair.select(
            "vec_a",
            "vec_b",
            F.floor(cos * scale).cast("long").alias("score_scaled"),
        )
        .filter(F.col("score_scaled") >= threshold_scaled)
    )


def _lcg_centroid(cell: int, d: int) -> float:
    """Deterministic pseudo-random IVF centroid coefficient (salted LCG)."""
    return _lcg_plane(1000 + cell, d)


def ivf_cell_scores(vec_col: str, n_cells: int = 8, dim: int = 64) -> Column:
    """Array of ⟨vec, centroid_c⟩ scores, one per IVF cell.

    Centroids come from the salted LCG, so cell assignment is
    reproducible in any engine (and in the SQL oracle) without a
    k-means fit; at real scale the centroid table would be a k-means
    artifact broadcast the same way — the plan shape is identical.

    The centroid matrix is one literal array-of-arrays folded with
    higher-order functions (not n_cells·dim inlined product terms,
    which made Catalyst compile a 512-term codegen expression — ~7 s
    of planning per query). ``aggregate`` folds in index order from
    0.0, which is the same float64 addition sequence as the explicit
    left-associated sum, so scores stay bit-identical to the oracle's
    spelled-out arithmetic.
    """
    matrix = ", ".join(
        "array(" + ", ".join(repr(_lcg_centroid(c, d)) for d in range(dim)) + ")"
        for c in range(n_cells)
    )
    return F.expr(
        f"transform(array({matrix}), c -> "
        f"aggregate(zip_with({vec_col}, c, (x, w) -> CAST(x AS DOUBLE) * w), "
        f"CAST(0 AS DOUBLE), (acc, x) -> acc + x))"
    )


def ivf_assign_cells(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Deterministic IVF coarse-cell assignment as a pure projection
    (``argmax`` over the fixed pseudo-centroid scores — zero shuffle,
    no training state): ``id, vec, cell``. Because the centroids are
    fixed, assignment commutes with ANY batch split — the property
    that lets a change-feed consumer assign ONLY the delta rows and
    merge them into a stored cell table that stays bit-equal to a
    full recompute (see ``text_hybrid_rrf_served``)."""
    cs = ivf_cell_scores(vec_col, n_cells, dim)
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        (F.array_position(cs, F.array_max(cs)) - 1).cast("int").alias("cell"),
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    nprobe: int = 2,
    dim: int = 64,
    scale: int = 1_000_000,
    corpus_cells: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via IVF coarse quantization (the classic
    inverted-file ANN layout, the scale path beside sign-pattern LSH).

    Every corpus vector is assigned to its best cell (argmax centroid
    score — a pure projection, zero shuffle); a probe searches only its
    top-``nprobe`` cells, so the candidate join is an equi-join on the
    cell id and the scanned fraction is ~``nprobe / n_cells``. Recall
    trades via ``nprobe``. Ties in the argmax break to the lowest cell
    id in both engines (first-occurrence semantics of
    ``array_position`` / ``list_position``).

    Output: ``probe_id, neighbor_id, score_scaled, rk`` (exact cosine
    rescoring of candidates, scaled-integer scores).
    """
    from pyspark.sql import Window as W

    cs = ivf_cell_scores(vec_col, n_cells, dim)
    if corpus_cells is not None:
        # pre-maintained assignment (``ivf_assign_cells`` rows served
        # from a SnapshotTable): the cell projection is deterministic,
        # so a stored assignment is bit-equal to recomputing — this is
        # the index-served path where the probe reads only its cells'
        # committed segments instead of projecting the whole corpus
        c = corpus_cells.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("corpus_vec"),
            F.col("cell").cast("int").alias("cell"),
        )
    else:
        # the n_cells x dim argmax projection is the corpus-side cost:
        # fan a narrow scan out first (no-op on wide sources)
        c = fan_out_scan(corpus).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("corpus_vec"),
            (F.array_position(cs, F.array_max(cs)) - 1).cast("int").alias("cell"),
        )
    p_scored = (
        probes.select(
            F.col(id_col).alias("probe_id"),
            F.col(vec_col).alias("probe_vec"),
            cs.alias("_cs"),
        )
        .select(
            "probe_id", "probe_vec", F.posexplode("_cs").alias("cell", "_s")
        )
    )
    wp = W.partitionBy("probe_id").orderBy(F.col("_s").desc(), F.col("cell"))
    p = (
        p_scored.withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= nprobe)
        .select("probe_id", "probe_vec", "cell")
    )
    pair = c.join(F.broadcast(p), "cell").filter(
        F.col("probe_id") != F.col("neighbor_id")
    )
    cos = dot(F.col("probe_vec"), F.col("corpus_vec")) / (
        F.sqrt(l2_norm_sq(F.col("probe_vec"))) * F.sqrt(l2_norm_sq(F.col("corpus_vec")))
    )
    scored = pair.select(
        "probe_id",
        "neighbor_id",
        F.floor(cos * scale).cast("long").alias("score_scaled"),
    )
    w = W.partitionBy("probe_id").orderBy(
        F.col("score_scaled").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("probe_id", "neighbor_id", "score_scaled", "rk")
    )


def _int_cell_scores(vec_scaled_col: str, matrix: list[list[int]]) -> Column:
    """Integer dot products ⟨v_scaled, m⟩ per centroid row — BIGINT
    arithmetic end-to-end, so scores (and the argmax assignment) are
    order-independent and bit-identical in every engine, unlike float
    sums whose value depends on reduction order."""
    m = ", ".join(
        "array(" + ", ".join(f"CAST({x} AS BIGINT)" for x in row) + ")"
        for row in matrix
    )
    return F.expr(
        f"transform(array({m}), c -> "
        f"aggregate(zip_with({vec_scaled_col}, c, (x, w) -> x * w), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x))"
    )


def kmeans_step(
    emb: DataFrame,
    n_cells: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    centroids_scaled: list[tuple[int, list[int]]] | None = None,
) -> DataFrame:
    """One distributed Lloyd iteration over the IVF coarse quantizer:
    assign every vector to its argmax-⟨v,c⟩ cell (the same deterministic
    assignment :func:`cosine_topk_ivf` uses), then recompute each
    cell's centroid as the per-dimension mean.

    This is how the IVF centroid artifact is refreshed at scale —
    iterate: assign (zero-shuffle projection) → mean (map-side-combined
    aggregate) → broadcast refined centroids into the next pass.

    Exactness across engines: elements are scaled to integers
    (``floor(x·scale)`` as BIGINT) *before* summing, so the aggregate
    is an order-independent integer sum — float sums would differ
    between engines by reduction order. The mean uses integer ``DIV``.

    Shape at 100 TB: assignment is a projection over the scan; the
    explode×dim feeds a groupBy(cell, d) with map-side partial
    aggregation, so the shuffle carries ≤ ``n_cells·dim`` partial rows
    per task — constant, not data-sized.

    With ``centroids_scaled`` (a sorted list of ``(cell_id,
    mean_scaled_weights)`` from a previous step), assignment switches
    to the integer dot against those refined centroids — the broadcast
    artifact of the previous iteration — with first-occurrence
    (lowest cell id) tie-breaks in every engine.

    Output: ``cell, d, n_vectors, mean_scaled`` (``n_cells·dim`` rows;
    cells left empty by an assignment round drop out).
    """
    xv = F.expr(
        f"transform({vec_col}, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT))"
    )
    if centroids_scaled is None:
        cs = ivf_cell_scores(vec_col, n_cells, dim)
        assigned = emb.select(
            (F.array_position(cs, F.array_max(cs)) - 1).cast("int").alias("cell"),
            xv.alias("_v"),
        )
    else:
        ids_sql = ", ".join(str(c) for c, _ in centroids_scaled)
        base = emb.select(xv.alias("_v")).withColumn(
            "_cs", _int_cell_scores("_v", [w for _, w in centroids_scaled])
        )
        assigned = base.select(
            F.expr(
                f"element_at(array({ids_sql}), "
                f"CAST(array_position(_cs, array_max(_cs)) AS INT))"
            ).alias("cell"),
            "_v",
        )
    return (
        assigned.select("cell", F.posexplode("_v").alias("d", "x"))
        .groupBy("cell", "d")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.expr("sum(x) DIV count(1)").alias("mean_scaled"),
        )
    )


def kmeans_fit(
    emb: DataFrame,
    n_iter: int = 2,
    n_cells: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Full distributed Lloyd loop: iterate :func:`kmeans_step`,
    collecting each round's centroid table (a bounded ``n_cells·dim``
    integer artifact — the same driver-side collect every distributed
    k-means performs) and broadcasting it into the next round as a
    literal matrix, so assignment stays a zero-shuffle codegen
    projection instead of a data×centroid join.

    All arithmetic is scaled-integer, so any fixed ``n_iter`` unrolls
    to bit-identical results in any engine. Returns the final step's
    ``cell, d, n_vectors, mean_scaled`` table.
    """
    step = kmeans_step(emb, n_cells, dim, vec_col, scale)
    for _ in range(n_iter - 1):
        by_cell: dict[int, list[int]] = {}
        for r in step.collect():
            by_cell.setdefault(r["cell"], [0] * dim)[r["d"]] = r["mean_scaled"]
        step = kmeans_step(
            emb,
            n_cells,
            dim,
            vec_col,
            scale,
            centroids_scaled=sorted(by_cell.items()),
        )
    return step


def cosine_topk_lsh(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    dim: int = 64,
    scale: int = 1_000_000,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the probe's LSH bucket.

    At 100 TB the bucket equi-join replaces the broadcast cross
    product; recall is tunable via ``n_planes`` (fewer planes → bigger
    buckets → higher recall, more compute).
    """
    from pyspark.sql import Window as W

    bucket = lsh_bucket(vec_col, n_planes, dim)
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("probe_vec"),
        bucket.alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("corpus_vec"),
        bucket.alias("bucket"),
    )
    pair = c.join(F.broadcast(p), "bucket").filter(
        F.col("probe_id") != F.col("neighbor_id")
    )
    cos = dot(F.col("probe_vec"), F.col("corpus_vec")) / (
        F.sqrt(l2_norm_sq(F.col("probe_vec"))) * F.sqrt(l2_norm_sq(F.col("corpus_vec")))
    )
    scored = pair.select(
        "probe_id",
        "neighbor_id",
        F.floor(cos * scale).cast("long").alias("score_scaled"),
    )
    w = W.partitionBy("probe_id").orderBy(
        F.col("score_scaled").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("probe_id", "neighbor_id", "score_scaled", "rk")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-scale ANN path.
#
# A dim-D vector is split into M subvectors; each subvector is encoded
# as the index of its nearest codebook centroid (KS entries per
# subspace), so a 64-dim float32 vector (256 bytes) becomes M small
# integer codes — with the registered m=32/ks=16/dsub=2 layout
# (queries.py:_PQ_M), 32 nibble codes = 16 bytes, a 16x cut in what
# the corpus scan shuffles and caches (coarser layouts trade recall
# for more). Search uses asymmetric distance computation
# (ADC): the probe stays full precision, a per-probe lookup table of
# probe-subvector -> centroid distances is built ONCE (M*KS entries),
# and each corpus row's distance estimate is M table lookups summed.
#
# All arithmetic is SCALED-INTEGER (vectors and the codebook quantize
# to 1e6 fixed point), so encoding, the LUT, and ADC scores are exact
# int64 in any engine — the DuckDB oracle reproduces them bit-exactly
# with no float-ordering caveat. Codebook entries come from the same
# deterministic LCG as the LSH planes / IVF centroids (a stand-in for
# the k-means artifact a production pipeline would broadcast; the plan
# shape — tiny literal codebook, zero-shuffle encode projection — is
# identical either way).
#
# No reference analog (the reference has no vector surface); this
# extends the ANN family required by the LLM-pipeline brief.
# ---------------------------------------------------------------------------

#: fixed-point scale shared by vectors and codebook entries
PQ_SCALE = 1_000_000


def _pq_centroid_scaled(sub: int, cent: int, d: int) -> int:
    """Deterministic codebook entry, scaled to 1e6 fixed point.

    Salt 3000 keeps the stream disjoint from the LSH planes (0..) and
    IVF centroids (1000..)."""
    return math.floor(_lcg_plane(3000 + sub * 64 + cent, d) * PQ_SCALE)


def pq_codebook(m: int = 8, ks: int = 16, dsub: int = 8) -> list[list[list[int]]]:
    """``m x ks x dsub`` scaled-integer codebook from the LCG."""
    return [
        [[_pq_centroid_scaled(j, c, d) for d in range(dsub)] for c in range(ks)]
        for j in range(m)
    ]


def _pq_scaled_vec(vec_col: str, dim: int) -> str:
    """SQL expr: float vector -> scaled int64 vector (floor(x*1e6))."""
    return (
        f"transform(slice({vec_col}, 1, {dim}), "
        f"x -> CAST(floor(CAST(x AS DOUBLE) * {PQ_SCALE}) AS BIGINT))"
    )


def _pq_dists_expr(
    xs_col: str,
    m: int,
    ks: int,
    dsub: int,
    book: list[list[list[int]]] | None = None,
) -> str:
    """SQL expr producing the ``m x ks`` array of exact squared
    distances from each scaled subvector to each codebook centroid.

    The codebook is ONE literal nested array folded with higher-order
    functions (zip_with + aggregate), not m*ks*dsub inlined terms —
    the same Catalyst-codegen-size lesson as ivf_cell_scores."""
    if book is None:
        book = pq_codebook(m, ks, dsub)
    lit = (
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                "array(" + ", ".join(f"{v}L" for v in cent) + ")"
                for cent in sub
            )
            + ")"
            for sub in book
        )
        + ")"
    )
    return (
        f"zip_with({lit}, sequence(0, {m - 1}), (sub, j) -> "
        f"transform(sub, cent -> "
        f"aggregate(zip_with(slice({xs_col}, j * {dsub} + 1, {dsub}), cent, "
        f"(a, b) -> (a - b) * (a - b)), 0L, (acc, v) -> acc + v)))"
    )


def pq_encode(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    book: list[list[list[int]]] | None = None,
) -> DataFrame:
    """Encode each vector as ``m`` codebook indices (0..ks-1).

    Zero-shuffle map-only projection: the codebook is a literal in the
    expression tree, so encoding parallelizes embarrassingly across
    the corpus scan — the property that makes PQ viable for a 100 TB
    re-encode. Ties break to the LOWEST index (array_position returns
    the first occurrence of the min), mirrored in the oracle.

    Returns ``(id_col, codes array<int>, dist_scaled)`` where
    ``dist_scaled`` is the total squared quantization error (exact
    int64) — the quality metric PQ tuning watches.
    """
    dsub = dim // m
    # the m*ks distance projection is the heavy stage: fan a narrow
    # corpus out so encoding parallelizes beyond the scan's task count
    emb = fan_out_scan(emb)
    xs = F.expr(_pq_scaled_vec(vec_col, dim))
    dists = F.expr(_pq_dists_expr("xs", m, ks, dsub, book))
    codes = F.expr(
        "transform(dl, sub -> CAST(array_position(sub, array_min(sub)) - 1 AS INT))"
    )
    err = F.expr("aggregate(transform(dl, sub -> array_min(sub)), 0L, (a, v) -> a + v)")
    return (
        emb.select(F.col(id_col), xs.alias("xs"))
        .select(F.col(id_col), dists.alias("dl"))
        .select(F.col(id_col), codes.alias("codes"), err.alias("dist_scaled"))
    )


def pq_adc_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    book: list[list[list[int]]] | None = None,
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance.

    The corpus side carries ONLY its codes (a 16x payload cut under
    the registered m=8 layout — 8 one-byte codes vs 64 int16 values);
    each probe carries its ``m x ks`` LUT of exact subvector-to-
    centroid distances. The pair stage is m array lookups and an
    integer sum — no per-pair float math at all. Probes broadcast
    (same contract as the brute/LSH/IVF variants); at corpus scale the
    interesting bytes are the corpus codes, which is the point.

    Returns ``probe_id, neighbor_id, dist_scaled, rk`` ranked by
    ASCENDING estimated distance (ties -> lowest neighbor_id).
    """
    from pyspark.sql import Window as W

    dsub = dim // m
    c = pq_encode(corpus, id_col, vec_col, m, ks, dim, book).select(
        F.col(id_col).alias("neighbor_id"), "codes"
    )
    xs = F.expr(_pq_scaled_vec(vec_col, dim))
    p = (
        probes.select(F.col(id_col).alias("probe_id"), xs.alias("xs"))
        .select(
            "probe_id",
            F.expr(_pq_dists_expr("xs", m, ks, dsub, book)).alias("lut"),
        )
    )
    pair = c.crossJoin(F.broadcast(p)).filter(
        F.col("probe_id") != F.col("neighbor_id")
    )
    adc = F.expr(
        "aggregate(zip_with(lut, codes, (sub, code) -> sub[code]), "
        "0L, (acc, v) -> acc + v)"
    )
    scored = pair.select(
        "probe_id", "neighbor_id", adc.alias("dist_scaled")
    )
    w = W.partitionBy("probe_id").orderBy(
        F.col("dist_scaled").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("probe_id", "neighbor_id", "dist_scaled", "rk")
    )


def pq_refine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    book: list[list[list[int]]] | None = None,
) -> DataFrame:
    """PQ ADC shortlist + exact re-rank (the FAISS ``refine`` stage).

    Measured on the test corpus: the 16-byte m=32/ks=16 code layout
    tops out at ~0.56 recall@5 no matter how many Lloyd iterations
    run, and residual (IVF-centered) encoding does not move it on
    near-isotropic vectors — the codes have hit their information
    limit. Re-ranking fixes it WITHOUT spending more code bytes:
    ADC proposes ``shortlist`` candidates from the codes alone, then
    only those candidates' FULL vectors are fetched and scored by
    exact scaled-integer L2 (recall@5 0.56 -> 0.90 measured at
    shortlist=20 on the sf0.01 corpus).

    Scale shape: the corpus pass stays the code-sized ADC scan; the
    refine fetch is an equi-join where the (n_probes x shortlist)
    candidate set BROADCASTS into the corpus scan — at 100 TB this is
    a point-lookup of ~k' rows per probe, not a second corpus pass.
    All distances are exact int64, so both engines rank identically.

    Returns ``probe_id, neighbor_id, dist_scaled, rk`` where
    ``dist_scaled`` is the EXACT scaled squared L2 distance.
    """
    from pyspark.sql import Window as W

    cand = pq_adc_topk(
        corpus, probes, k=shortlist, id_col=id_col, vec_col=vec_col,
        m=m, ks=ks, dim=dim, book=book,
    ).select("probe_id", "neighbor_id")
    xs = F.expr(_pq_scaled_vec(vec_col, dim))
    pv = probes.select(F.col(id_col).alias("probe_id"), xs.alias("pxs"))
    small = cand.join(pv, "probe_id")
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), xs.alias("nxs"))
    exact = F.expr(
        "aggregate(zip_with(pxs, nxs, (a, b) -> (a - b) * (a - b)), "
        "0L, (acc, v) -> acc + v)"
    )
    scored = (
        cv.join(F.broadcast(small), "neighbor_id")
        .select("probe_id", "neighbor_id", exact.alias("dist_scaled"))
    )
    w = W.partitionBy("probe_id").orderBy(
        F.col("dist_scaled").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("probe_id", "neighbor_id", "dist_scaled", "rk")
    )


def pq_fit_codebook(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    n_iter: int = 2,
) -> list[list[list[int]]]:
    """Fit a PQ codebook with per-subspace Lloyd iterations — the
    artifact a production pipeline trains once and broadcasts.

    Seeding is deterministic: the subvectors of the ``ks`` smallest
    ids (the classic sample-points init, pinned to a reproducible
    sample). Each iteration assigns every subvector to its nearest
    centroid via the SAME literal-matrix zero-shuffle projection the
    encoder uses, then recomputes centroids as truncated integer
    means in one map-side-combinable ``groupBy(sub, code, dd)`` whose
    key space is m*ks*dsub — constant, not data-sized. The only
    driver materialization is the m*ks*dsub codebook itself per
    iteration (same bounded-collect budget as kmeans_fit). Cells an
    iteration leaves empty keep their previous centroid.

    A random/LCG codebook quantizes real embeddings badly (centroids
    span the whole cube, data lives on a shell): on the test corpus
    recall@5 of ADC top-k triples when this fit replaces the LCG
    book. All arithmetic is scaled-integer; both engines truncate
    integer division toward zero, so the fitted book — and therefore
    every downstream code — is engine-exact.
    """
    dsub = dim // m
    seed_rows = (
        emb.orderBy(id_col)
        .limit(ks)
        .select(F.expr(_pq_scaled_vec(vec_col, dim)).alias("xs"))
        .collect()
    )
    if len(seed_rows) < ks:
        raise ValueError(f"need >= {ks} vectors to seed, got {len(seed_rows)}")
    book = [
        [list(r["xs"][j * dsub : (j + 1) * dsub]) for r in seed_rows]
        for j in range(m)
    ]
    # each Lloyd pass evaluates the m*ks literal-matrix distances over
    # the corpus: fan a narrow source once so every pass runs wide, and
    # PIN it — every pass ends in a driver collect (its own job), so an
    # unpersisted frame would re-run the scan + fan exchange n_iter
    # times (ADVICE r18). Released before returning: the loop fully
    # materializes each pass, nothing lazy escapes.
    emb = fan_out_scan(emb).persist()
    try:
        for _ in range(n_iter):
            xs = F.expr(_pq_scaled_vec(vec_col, dim))
            dists = F.expr(_pq_dists_expr("xs", m, ks, dsub, book))
            assigned = (
                emb.select(xs.alias("xs"))
                .select("xs", dists.alias("dl"))
                .select(
                    "xs",
                    F.posexplode(
                        F.expr(
                            "transform(dl, sub -> CAST(array_position(sub,"
                            " array_min(sub)) - 1 AS INT))"
                        )
                    ).alias("sub", "code"),
                )
                .select(
                    "sub",
                    "code",
                    F.posexplode(
                        F.expr(f"slice(xs, sub * {dsub} + 1, {dsub})")
                    ).alias("dd", "x"),
                )
            )
            means = (
                assigned.groupBy("sub", "code", "dd")
                .agg(F.expr("sum(x) DIV count(1)").alias("mean_x"))
                .collect()
            )
            for r in means:  # empty cells keep their previous centroid
                book[r["sub"]][r["code"]][r["dd"]] = r["mean_x"]
    finally:
        emb.unpersist()
    return book


def pq_adc_topk_ivf(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    n_cells: int = 8,
    nprobe: int = 2,
    book: list[list[list[int]]] | None = None,
) -> DataFrame:
    """IVF + PQ — the production ANN layout (FAISS ``IVFx,PQy``):
    the corpus is coarse-partitioned into IVF cells AND carries only
    its PQ codes; a probe searches its top-``nprobe`` cells and scores
    candidates by exact-integer asymmetric distance.

    This composes the two scale levers: the cell equi-join cuts the
    candidate set to ~nprobe/n_cells of the corpus (no cross join at
    all), and each candidate row the join moves is m small codes plus
    a cell id — not the vector. At 100 TB the corpus would be
    partitioned BY cell on disk, making the candidate read a partition
    prune; the plan here (broadcast probe cells + equi-join) is the
    same dataflow. Cell assignment and codes are computed in ONE
    zero-shuffle projection over the corpus scan.

    Returns ``probe_id, neighbor_id, dist_scaled, rk`` (ascending
    estimated distance, ties to lowest neighbor id).
    """
    from pyspark.sql import Window as W

    dsub = dim // m
    cs = ivf_cell_scores(vec_col, n_cells, dim)
    xs = F.expr(_pq_scaled_vec(vec_col, dim))
    c = (
        fan_out_scan(corpus).select(
            F.col(id_col).alias("neighbor_id"),
            (F.array_position(cs, F.array_max(cs)) - 1).cast("int").alias("cell"),
            xs.alias("xs"),
        )
        .select(
            "neighbor_id",
            "cell",
            F.expr(_pq_dists_expr("xs", m, ks, dsub, book)).alias("dl"),
        )
        .select(
            "neighbor_id",
            "cell",
            F.expr(
                "transform(dl, sub -> CAST(array_position(sub,"
                " array_min(sub)) - 1 AS INT))"
            ).alias("codes"),
        )
    )
    p = (
        probes.select(
            F.col(id_col).alias("probe_id"),
            cs.alias("cs"),
            xs.alias("xs"),
        )
        .select(
            "probe_id",
            F.posexplode("cs").alias("cell", "s"),
            F.expr(_pq_dists_expr("xs", m, ks, dsub, book)).alias("lut"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("probe_id").orderBy(
                    F.col("s").desc(), F.col("cell")
                )
            ),
        )
        .filter(F.col("rn") <= nprobe)
        .select("probe_id", "cell", "lut")
    )
    pair = c.join(F.broadcast(p), "cell").filter(
        F.col("probe_id") != F.col("neighbor_id")
    )
    adc = F.expr(
        "aggregate(zip_with(lut, codes, (sub, code) -> sub[code]), "
        "0L, (acc, v) -> acc + v)"
    )
    scored = pair.select("probe_id", "neighbor_id", adc.alias("dist_scaled"))
    w = W.partitionBy("probe_id").orderBy(
        F.col("dist_scaled").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("probe_id", "neighbor_id", "dist_scaled", "rk")
    )


def semdedup_stats(
    emb: DataFrame,
    n_cells: int = 8,
    dim: int = 64,
    threshold_scaled: int = 250_000,
    window: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with k-means, find semantic
    duplicates WITHIN each cluster by cosine similarity, keep one
    representative per duplicate group (canonically the member with
    the LOWEST centroid affinity — the paper keeps low
    similarity-to-centroid examples to preserve diversity). Returns
    per-cluster prune accounting: ``cell, n_members, n_dup_members,
    n_groups, n_survivors`` (``n_survivors = n_members -
    n_dup_members + n_groups``: singletons plus one per group).

    Scale design: the fit is :func:`kmeans_fit` (bounded
    n_cells×dim integer collect, the standard distributed-k-means
    artifact); assignment is a zero-shuffle codegen projection against
    the broadcast literal centroid matrix; and the within-cluster
    pair search is CHAINED, not all-pairs — members rank by
    (centroid-affinity, id) inside their cell, and each compares only
    to its ``window`` rank-successors, so candidates are <= window·n
    (linear) while near-duplicates — which necessarily have
    near-equal centroid affinity — stay adjacent in rank order and
    connect through the closure. All cluster arithmetic is
    scaled-integer (engine-exact); only the final cosine uses the
    repo-standard floor(cos·1e6) comparison.
    """
    from pyspark.sql import Window as W

    from changedatacapture_spark.operators.dedup import connected_components

    # fit + assignment + pair cosines all chain on the embeddings
    # scan: fan a narrow source once for every downstream stage, and
    # PIN it — the Lloyd fit collects per iteration and the rank
    # window's eager checkpoint is a third action, so an unpersisted
    # frame re-runs the scan + fan exchange per action (ADVICE r18);
    # released right after the checkpoint barrier materializes
    emb = fan_out_scan(emb).persist()
    try:
        fit = kmeans_fit(emb, n_iter=n_iter, n_cells=n_cells, dim=dim,
                         vec_col=vec_col, scale=scale)
        by_cell: dict[int, list[int]] = {}
        for r in fit.collect():
            by_cell.setdefault(r["cell"], [0] * dim)[r["d"]] = r["mean_scaled"]
        cents = sorted(by_cell.items())
        ids_sql = ", ".join(str(c) for c, _ in cents)
        xv = F.expr(
            f"transform({vec_col}, x -> "
            f"CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT))"
        )
        base = emb.select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"), xv.alias("_v")
        ).withColumn("_cs", _int_cell_scores("_v", [w for _, w in cents]))
        assigned = base.select(
            "vid",
            "vec",
            F.expr(
                f"element_at(array({ids_sql}), "
                f"CAST(array_position(_cs, array_max(_cs)) AS INT))"
            ).alias("cell"),
            F.array_max("_cs").alias("affinity"),
        )
        # same eager-checkpoint barrier as embedding_neardup_pairs_chained:
        # one materialization of the rank window, no self-join rebind
        ranked = assigned.withColumn(
            "lr",
            F.row_number().over(W.partitionBy("cell").orderBy("affinity", "vid")),
        ).localCheckpoint(eager=True)
    finally:
        emb.unpersist()  # checkpoint barrier holds the rows from here on
    r = ranked.alias("r")
    s = ranked.alias("s")
    probe = r.select(
        F.col("r.vid").alias("vec_a"),
        F.col("r.vec").alias("va"),
        F.col("r.cell").alias("cell"),
        F.explode(
            F.sequence(F.col("r.lr") + 1, F.col("r.lr") + window)
        ).alias("lr_b"),
    )
    succ = s.select(
        F.col("s.vid").alias("vec_b"),
        F.col("s.vec").alias("vb"),
        F.col("s.cell").alias("cell"),
        F.col("s.lr").alias("lr_b"),
    )
    cos = dot(F.col("va"), F.col("vb")) / (
        F.sqrt(l2_norm_sq(F.col("va"))) * F.sqrt(l2_norm_sq(F.col("vb")))
    )
    pairs = (
        probe.join(succ, ["cell", "lr_b"])
        .select(
            "vec_a",
            "vec_b",
            F.floor(cos * scale).cast("long").alias("score_scaled"),
        )
        .filter(F.col("score_scaled") >= threshold_scaled)
    )
    groups = connected_components(pairs, a_col="vec_a", b_col="vec_b")
    dup_stats = (
        ranked.join(groups, ranked["vid"] == groups["doc_id"])
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_dup_members"),
            F.countDistinct("group_id").alias("n_groups"),
        )
    )
    members = ranked.groupBy("cell").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        members.join(dup_stats, "cell", "left")
        .select(
            "cell",
            "n_members",
            F.coalesce("n_dup_members", F.lit(0)).alias("n_dup_members"),
            F.coalesce("n_groups", F.lit(0)).alias("n_groups"),
            (
                F.col("n_members")
                - F.coalesce("n_dup_members", F.lit(0))
                + F.coalesce("n_groups", F.lit(0))
            ).alias("n_survivors"),
        )
    )


def cosine_topk_mrl(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    prefix_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Matryoshka-representation two-stage search (MRL, Kusupati et
    al. 2022): embeddings trained with nested prefixes let a COARSE
    pass run on just the first ``prefix_dim`` dimensions — a 4x
    skinnier scan at prefix 16/64 — keeping the top-``shortlist``
    candidates per probe, which an EXACT full-dimension pass then
    re-ranks to top-``k``. The modern alternative to PQ for
    memory-bound ANN: no codebook to fit, the truncation IS the
    compression.

    Scale shape (the ``pq_refine_topk`` discipline): the coarse stage
    scans a SKINNY prefix relation (at a real deployment this is its
    own column/file — here a ``slice``, which still prunes the
    arithmetic 4x); the exact stage is a point-lookup equi-join of
    ``shortlist x probes`` candidate ids back to the full-vector
    table plus a broadcast of the probes — never a second full-dim
    corpus pass. All scores are scaled integers folded in index
    order, so ranking is engine-exact.

    Output: ``probe_id, neighbor_id, score_scaled, rk`` (exact
    full-dim cosine, top-k).
    """
    from pyspark.sql import Window as W

    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("probe_vec"),
        F.slice(F.col(vec_col), 1, prefix_dim).alias("probe_pre"),
    )
    cpre = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.slice(F.col(vec_col), 1, prefix_dim).alias("corpus_pre"),
    )
    coarse_cos = dot(F.col("probe_pre"), F.col("corpus_pre")) / (
        F.sqrt(l2_norm_sq(F.col("probe_pre")))
        * F.sqrt(l2_norm_sq(F.col("corpus_pre")))
    )
    coarse = (
        cpre.crossJoin(F.broadcast(p.select("probe_id", "probe_pre")))
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select(
            "probe_id",
            "neighbor_id",
            F.floor(coarse_cos * scale).cast("long").alias("coarse_scaled"),
        )
    )
    wc = W.partitionBy("probe_id").orderBy(
        F.col("coarse_scaled").desc(), F.col("neighbor_id")
    )
    short = (
        coarse.withColumn("crk", F.row_number().over(wc))
        .filter(F.col("crk") <= shortlist)
        .select("probe_id", "neighbor_id")
    )
    full = short.join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("corpus_vec"),
        ),
        "neighbor_id",
    ).join(F.broadcast(p.select("probe_id", "probe_vec")), "probe_id")
    exact_cos = dot(F.col("probe_vec"), F.col("corpus_vec")) / (
        F.sqrt(l2_norm_sq(F.col("probe_vec")))
        * F.sqrt(l2_norm_sq(F.col("corpus_vec")))
    )
    we = W.partitionBy("probe_id").orderBy(
        F.col("score_scaled").desc(), F.col("neighbor_id")
    )
    return (
        full.select(
            "probe_id",
            "neighbor_id",
            F.floor(exact_cos * scale).cast("long").alias("score_scaled"),
        )
        .withColumn("rk", F.row_number().over(we))
        .filter(F.col("rk") <= k)
    )


def build_label_ann_index(
    emb: DataFrame,
    path: str,
    prefix_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    mode: str = "overwrite",
) -> None:
    """Materialize a LABEL-PARTITIONED coarse ANN index: the skinny
    MRL prefix relation ``(id, prefix)`` written ``partitionBy(label)``
    — one directory per filter value, the layout that closes the
    filtered-ANN recall trap ``knn_recall_postfilter`` measures.

    Post-filtering an unpartitioned index shortlist loses the
    neighbors the filter would have kept (measured recall 0.38 at 10%
    selectivity); pre-filtering at FULL dimension pays a full-vector
    scan of the eligible set. The partitioned index is the production
    middle path: the probe's label predicate becomes PARTITION PRUNING
    on the index scan (never reads other labels' cells), the coarse
    pass runs at prefix width over eligible vectors only, and the
    exact re-rank stays a point-lookup join — recall equals the
    pre-filter search whenever the shortlist covers the true top-k,
    at index (not full-scan) cost.

    At 100 TB the index is written once per corpus version (here: per
    session scratch dir) and shared by every filtered probe; a
    high-cardinality label wants this generalized to a composite
    partition key or bucket hash of the label — same layout idea.
    ``mode="append"`` is the incremental-maintenance path: a snapshot
    change feed's INSERT set appends its prefix rows into the same
    label partitions, so a daily crawl re-encodes only the delta (see
    ``knn_cdf_incremental_index``).
    """
    (
        emb.select(
            F.col(label_col).alias("label"),
            F.col(id_col).alias("neighbor_id"),
            F.slice(F.col(vec_col), 1, prefix_dim).alias("prefix"),
        )
        .repartition("label")
        .write.mode(mode)
        .partitionBy("label")
        .parquet(path)
    )


def cosine_topk_label_partitioned(
    spark,
    index_path: str,
    corpus: DataFrame,
    probes: DataFrame,
    label_value,
    k: int = 5,
    shortlist: int = 50,
    prefix_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Filtered top-k through a label-partitioned coarse index (see
    :func:`build_label_ann_index`): scan ONLY ``label=value``'s index
    partition (partition pruning — assert ``PartitionFilters`` in the
    plan), shortlist per probe on the prefix, exact full-dim re-rank
    via a point-lookup join back to the corpus. ``prefix_dim`` must
    match the width the index was built with. Scores are scaled
    integers folded in index order — engine-exact ranking, same
    contract as :func:`cosine_topk_mrl`.

    Output: ``probe_id, neighbor_id, score_scaled, rk``.
    """
    pre = spark.read.parquet(index_path).filter(
        F.col("label") == F.lit(label_value)
    )
    return _index_probe_rerank(
        pre, corpus, probes, k, shortlist, prefix_dim, id_col, vec_col, scale
    )


def _index_probe_rerank(
    pre: DataFrame,
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
    shortlist: int,
    prefix_dim: int,
    id_col: str,
    vec_col: str,
    scale: int,
) -> DataFrame:
    """Shared probe body for the partitioned-index searches: coarse
    prefix-cosine shortlist over the pruned index relation ``pre``
    (``neighbor_id, prefix``), then the exact full-dimension re-rank
    via a point-lookup join back to the corpus. Probes broadcast both
    times; the corpus is touched only by the shortlist join."""
    from pyspark.sql import Window as W

    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("probe_vec"),
    )
    coarse_cos = dot(F.col("probe_pre"), F.col("prefix")) / (
        F.sqrt(l2_norm_sq(F.col("probe_pre")))
        * F.sqrt(l2_norm_sq(F.col("prefix")))
    )
    pp = p.select(
        "probe_id",
        F.slice(F.col("probe_vec"), 1, prefix_dim).alias("probe_pre"),
    )
    coarse = (
        pre.crossJoin(F.broadcast(pp))
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select(
            "probe_id",
            "neighbor_id",
            F.floor(coarse_cos * scale).cast("long").alias("coarse_scaled"),
        )
    )
    wc = W.partitionBy("probe_id").orderBy(
        F.col("coarse_scaled").desc(), F.col("neighbor_id")
    )
    short = (
        coarse.withColumn("crk", F.row_number().over(wc))
        .filter(F.col("crk") <= shortlist)
        .select("probe_id", "neighbor_id")
    )
    full = short.join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("corpus_vec"),
        ),
        "neighbor_id",
    ).join(F.broadcast(p), "probe_id")
    exact_cos = dot(F.col("probe_vec"), F.col("corpus_vec")) / (
        F.sqrt(l2_norm_sq(F.col("probe_vec")))
        * F.sqrt(l2_norm_sq(F.col("corpus_vec")))
    )
    we = W.partitionBy("probe_id").orderBy(
        F.col("score_scaled").desc(), F.col("neighbor_id")
    )
    return (
        full.select(
            "probe_id",
            "neighbor_id",
            F.floor(exact_cos * scale).cast("long").alias("score_scaled"),
        )
        .withColumn("rk", F.row_number().over(we))
        .filter(F.col("rk") <= k)
    )


def label_bucket_expr(label_col: str, n_label_buckets: int):
    """Deterministic, engine-portable bucket of a label value:
    ``conv(md5(label)[0:8], 16, 10) % B`` — the same md5-hex-slice
    family every content-addressed operator here uses, expressible
    verbatim in the DuckDB oracle and reproducible driver-side (Python
    ``hashlib``) so a probe can compute its partition literal without
    touching the cluster."""
    return (
        F.conv(
            F.substring(F.md5(F.col(label_col).cast("string")), 1, 8), 16, 10
        ).cast("long")
        % n_label_buckets
    )


def label_bucket_of(label_value, n_label_buckets: int) -> int:
    """Driver-side twin of :func:`label_bucket_expr` for a literal."""
    import hashlib

    h = hashlib.md5(str(label_value).encode()).hexdigest()[:8]
    return int(h, 16) % n_label_buckets


def build_bucketed_ann_index(
    emb: DataFrame,
    path: str,
    n_label_buckets: int = 16,
    prefix_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    mode: str = "overwrite",
) -> None:
    """Composite-key variant of :func:`build_label_ann_index` for
    HIGH-CARDINALITY labels (the caveat that function's docstring
    flags): partitioning one directory per label value explodes the
    partition count — and small-file pressure — when labels number in
    the millions. Here the index partitions by ``label_bucket =
    md5(label) % B``, so B bounds the directory count regardless of
    label cardinality, while the probe still PRUNES to one partition
    (its label's bucket) and the residual ``label = value`` equality
    is pushed into the parquet scan of that bucket alone — reading
    ~1/B of the index instead of all of it, whatever the cardinality.

    The label stays a DATA column inside each bucket (it no longer
    names the directory), which is what makes the residual pushdown
    possible. Same append-mode incremental maintenance as the
    per-label layout.
    """
    (
        emb.select(
            label_bucket_expr(label_col, n_label_buckets).alias(
                "label_bucket"
            ),
            F.col(label_col).alias("label"),
            F.col(id_col).alias("neighbor_id"),
            F.slice(F.col(vec_col), 1, prefix_dim).alias("prefix"),
        )
        .repartition("label_bucket")
        .write.mode(mode)
        .partitionBy("label_bucket")
        .parquet(path)
    )


def cosine_topk_label_bucketed(
    spark,
    index_path: str,
    corpus: DataFrame,
    probes: DataFrame,
    label_value,
    n_label_buckets: int = 16,
    k: int = 5,
    shortlist: int = 50,
    prefix_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Filtered top-k through the BUCKETED label index (see
    :func:`build_bucketed_ann_index`): the probe computes its label's
    bucket driver-side (:func:`label_bucket_of` — same md5 family) and
    scans ONLY that partition (plan: ``PartitionFilters`` on
    ``label_bucket``), with the exact ``label = value`` equality
    pushed into that bucket's parquet scan; eligible rows then flow
    through the identical coarse-shortlist → exact-re-rank body as the
    per-label layout, so results are bit-equal to it (and this query
    shares its oracle). ``n_label_buckets`` must match the build.

    Output: ``probe_id, neighbor_id, score_scaled, rk``.
    """
    bucket = label_bucket_of(label_value, n_label_buckets)
    pre = spark.read.parquet(index_path).filter(
        (F.col("label_bucket") == F.lit(bucket))
        & (F.col("label") == F.lit(label_value))
    )
    return _index_probe_rerank(
        pre, corpus, probes, k, shortlist, prefix_dim, id_col, vec_col, scale
    )
