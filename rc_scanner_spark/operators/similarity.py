"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline: broadcast the query
set, evaluate cosine as a codegen'd array fold, rank with a window.
Cost is |Q| x |N| — fine when the query side is small/broadcastable.

The scale path is hyperplane-LSH bucketing: a deterministic Rademacher
projection (sign bits from xxhash64(plane, dim)) maps each vector to a
small bit signature; candidates are vectors sharing a signature
(optionally across several independent signature tables).  Only the
bucket equi-join shuffles; no cross join ever materializes.  This is
the classic SimHash/ANN recipe (Charikar '02) — approximate, recall
measured against the brute-force baseline in tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Deterministic: similarity rounded, ties broken by vector id.
    Returns (query_id, vec_id, sim, rank).
    """
    from ..functions.vectors import dot, norm

    # Precompute each side's norm once per row instead of once per
    # pair (the formula dot/(|q||v|) is unchanged — bit-identical to
    # the naive form — but the |Q| x |N| stage only evaluates the dot).
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qv"),
        ).withColumn("qn", norm(F.col("qv")))
    )
    v = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vv"),
    ).withColumn("vn", norm(F.col("vv")))
    denom = F.col("qn") * F.col("vn")
    # Zero-norm vectors: DuckDB's list_cosine_similarity returns -1.0
    # for a zero operand (verified on the pinned oracle build), while
    # the raw Spark division guard yields NULL — which would also sort
    # differently in the rank window.  Coalesce to -1.0 so both the
    # VALUE and the ordering match the twin exactly (review r10).
    scored = q.crossJoin(v).select(
        "query_id",
        "vec_id",
        F.coalesce(
            F.round(
                F.when(denom != 0, dot(F.col("qv"), F.col("vv")) / denom),
                round_digits,
            ),
            F.lit(-1.0),
        ).alias("sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "sim", "rank")
    )


def hyperplane_signature(vec: Column, num_planes: int = 16, table: int = 0) -> Column:
    """Deterministic random-hyperplane signature (int bitmask).

    Plane p, dimension d gets a pseudo-random +-1 weight from
    xxhash64(table, p, d) — reproducible across runs and engines with
    no stored model.  sign(dot(vec, plane)) per plane -> one bit.
    """
    dims = F.size(vec)

    def plane_dot(p: int) -> Column:
        prods = F.zip_with(
            vec.cast("array<double>"),
            F.sequence(F.lit(0), dims - 1),
            lambda x, d: F.when(
                F.xxhash64(F.lit(table), F.lit(p), d).bitwiseAND(F.lit(1)) == 1, x
            ).otherwise(-x),
        )
        return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)

    sig: Column = F.lit(0)
    for p in range(num_planes):
        sig = sig + F.when(plane_dot(p) > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return sig


def ivf_assign(
    vectors: DataFrame,
    num_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: (centroids, assigned) pair.

    Centroid seeds are the ``num_cells`` vectors with the smallest ids
    — deterministic and training-free (production would refine them
    with k-means||; the index/probe plumbing below is unchanged by
    that).  Assignment is a broadcast |N| x K score + per-row argmax:
    map-side only, no shuffle of the vector table.

    Returns (centroids(cell, cv), assigned(id, v, cell)).

    Exactly ``kmeans_refine`` with ``iters=0`` — delegated so the
    seeding rule (smallest-id vectors, row_number cells) has ONE
    definition shared with the kmeans family and the ``_sql_kmeans_
    ctes`` twin generator (review r10)."""
    centroids, assigned = kmeans_refine(
        vectors, num_cells, iters=0, id_col=id_col, vec_col=vec_col
    )
    return centroids, assigned.select("id", "v", "cell")


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_cells: int = 16,
    num_probes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate cosine top-k via IVF cell probing.

    Each query scores only the vectors in its ``num_probes`` nearest
    cells: cost drops from |Q| x |N| to |Q| x |N| x probes/cells.  The
    one shuffle is the (cell) equi-join — at 100 TB the assigned table
    is written bucketed by cell so even that shuffle disappears.
    ``num_cells`` should scale ~sqrt(|N|) in production (the registry
    queries pin 16 for oracle determinism at test SFs): per-cell pair
    mass is |Q| x |N| / cells, so fixed cells at growing N re-acquires
    the quadratic term the index exists to remove (16x probe
    adjudication, PLANS.md r8).  Recall vs the exact baseline is
    measured in tests.
    """
    from pyspark.sql import Window

    from ..functions.vectors import dot, norm

    centroids, assigned = ivf_assign(vectors, num_cells, id_col, vec_col)
    # r14 batch 6: per-row norms once, not once per candidate pair —
    # the probe-join scoring below evaluated cosine() per (query,
    # vector) pair, i.e. three interpreted folds per pair; qn/vn are
    # the identical norm folds hoisted to one per row (the cosine_topk
    # r10 precedent — same doubles, results unchanged).
    assigned = assigned.withColumn("vn", norm(F.col("v")))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    # Probe selection without a window: each query scores the K
    # broadcast centroids map-side; the per-query top-``num_probes``
    # cells come from sorting that K-length array in place
    # (array_sort on (-csim, cell) = csim desc, cell asc) — partial
    # aggregation collapses the K scored rows per query before any
    # shuffle, instead of shuffling the K x |Q| frame for row_number.
    # csim coalesces to -1.0 for a zero-norm centroid seed: Spark's
    # cosine() yields NULL there, and a NULL negsim struct field sorts
    # FIRST in array_sort — the degenerate cell would consume the top
    # probe slot for every query, while the DuckDB twin's
    # list_cosine_similarity returns -1.0 and ranks it LAST (review
    # r10).  -1.0 reproduces the twin's value and ordering exactly.
    probes = (
        q.join(F.broadcast(centroids))
        .withColumn(
            "csim",
            F.coalesce(F.round(cosine(F.col("qv"), F.col("cv")), 6), F.lit(-1.0)),
        )
        .groupBy("query_id")
        .agg(
            F.any_value(F.col("qv")).alias("qv"),  # constant per query_id
            F.any_value(F.col("qn")).alias("qn"),  # constant per query_id
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct((-F.col("csim")).alias("negsim"), F.col("cell"))
                    )
                ),
                1,
                num_probes,
            ).alias("probes"),
        )
        .select("query_id", "qv", "qn", F.explode("probes").alias("probe"))
        .select("query_id", "qv", "qn", F.col("probe.cell").alias("cell"))
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    denom = F.col("qn") * F.col("vn")
    return (
        probes.join(assigned, "cell")
        .select(
            "query_id",
            F.col("id").alias("vec_id"),
            F.coalesce(
                F.round(
                    F.when(denom != 0, dot(F.col("qv"), F.col("v")) / denom),
                    4,
                ),
                F.lit(-1.0),
            ).alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
    )


def _nonzero_norm_base(
    vectors: DataFrame, id_col: str, vec_col: str, cast_double: bool = False
) -> DataFrame:
    """(id, v) projection with degenerate vectors dropped upstream.

    Empty and zero-norm vectors all hash to signature 0 in EVERY
    table (no plane dot is ever > 0), so m of them collide into one
    bucket and emit m^2/2 candidate pairs per table whose verify
    cosine is NULL and filtered anyway — quadratic wasted join work
    the bucketing exists to prevent.  Dropping them changes no output
    row (a NULL sim never passes the >= threshold filter); O(N) norm
    folds, the embed_hard_negatives convention (review r10).

    ``cast_double=True`` projects ``v`` as array<double> — the
    portable LSH variant fixed-points v and needs the cast ahead of
    that, and sharing the flag here keeps ONE definition of the
    zero-norm guard across both variants (ADVICE r10)."""
    from ..functions.vectors import as_double_array, norm

    v = as_double_array(F.col(vec_col)) if cast_double else F.col(vec_col)
    base = vectors.select(F.col(id_col).alias("id"), v.alias("v"))
    return base.filter(norm(as_double_array(F.col("v"))) > 0)


def _verify_candidate_pairs(sigs: DataFrame, threshold: float) -> DataFrame:
    """Shared bucket-join / dedup / exact-cosine verify tail for the
    production (xxhash64) and portable (md5) LSH variants — one
    definition so the candidate-pair discipline can never drift
    between them (review r10).

    r14: the signature frame is persisted — it feeds BOTH self-join
    sides, and un-cached each side re-ran the full signature
    computation (the portable variant's integer plane dots are ~7 s
    of CPU per evaluation at sf0.1).  Per-row norms are precomputed
    on the cached frame; the pair step divides by the product — the
    identical doubles ``cosine()`` computes per pair (same expression
    per operand), so results are unchanged while per-pair fold work
    drops from 3 array passes to 1."""
    from ..functions.vectors import dot, norm

    sigs = sigs.withColumn("nv", norm(F.col("v"))).persist()
    l, r = sigs.alias("l"), sigs.alias("r")
    denom = F.col("na") * F.col("nb")
    return (
        l.join(
            r,
            on=[
                F.col("l.tbl") == F.col("r.tbl"),
                F.col("l.sig") == F.col("r.sig"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.v").alias("va"),
            F.col("r.v").alias("vb"),
            F.col("l.nv").alias("na"),
            F.col("r.nv").alias("nb"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "sim",
            F.round(
                F.when(denom != 0, dot(F.col("va"), F.col("vb")) / denom), 4
            ),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def _plane_dot_sql(t: int, p: int) -> str:
    """SQL-string twin of ``hyperplane_signature``'s per-plane dot —
    the float/xxhash64 form over a ``v`` column (r14 batch 7).  Kept
    at module level so tests/test_lsh_signature_equivalence.py can
    pin the EXACT production string against the Column canon."""
    return (
        "aggregate(zip_with(CAST(v AS ARRAY<DOUBLE>),"
        " sequence(0, size(CAST(v AS ARRAY<DOUBLE>)) - 1),"
        f" (x, d) -> CASE WHEN (xxhash64({t}, {p}, d) & 1) = 1"
        " THEN x ELSE -x END), 0.0D, (acc, x) -> acc + x)"
    )


def _sig_sql(t: int, num_planes: int) -> str:
    """SQL-string twin of ``hyperplane_signature`` (full bitmask)."""
    return " + ".join(
        ["0"]
        + [
            f"CASE WHEN {_plane_dot_sql(t, p)} > 0.0D"
            f" THEN {1 << p} ELSE 0 END"
            for p in range(num_planes)
        ]
    )


def lsh_ann_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 12,
    num_tables: int = 4,
    threshold: float = 0.3,
) -> DataFrame:
    """Approximate near-neighbor pairs: bucket by hyperplane signature
    in each of ``num_tables`` independent tables, verify candidates
    with exact cosine.  Returns (id_a, id_b, sim), id_a < id_b.
    """
    # r14: width-pinned entry repartition — the signature hashing and
    # the verify tail otherwise run at the scan's spread width.
    # r14 batch 7: the num_tables x num_planes plane-dot expressions
    # are built as ONE selectExpr string instead of Column-API lambdas
    # (48 zip_with/aggregate builds = hundreds of py4j round-trips of
    # driver plan-construction per call; the kmeans_assign/embed_
    # random_projection precedent).  Identical expression trees —
    # int literals stay INT so every xxhash64 input type (and thus
    # every signature bit) is unchanged; same 0.0D fold seed.
    base = _nonzero_norm_base(vectors, id_col, vec_col).repartition(
        vectors.sparkSession.sparkContext.defaultParallelism, "id"
    )

    structs = ", ".join(
        f"named_struct('tbl', {t}, 'sig', {_sig_sql(t, num_planes)})"
        for t in range(num_tables)
    )
    sigs = base.selectExpr(
        "id", "v", f"explode(array({structs})) AS s"
    ).select("id", "v", "s.tbl", "s.sig")
    return _verify_candidate_pairs(sigs, threshold)


def kmeans_assign(
    base: DataFrame,
    centroids: DataFrame,
) -> DataFrame:
    """Assign each vector in ``base(id, v)`` to its nearest centroid in
    ``centroids(cell, cv)`` by cosine — as a PURE PROJECTION, no
    aggregation: the K centroids collapse to one array row, broadcast
    to every task; each vector scores the array in place and
    ``array_max`` picks the lexicographic (csim, -cell) best, so the
    tie-break (csim desc, cell asc) matches the historical window /
    max_by orderings exactly.

    Why not the earlier ``explode x K -> groupBy(id) -> max_by``
    shape: an aggregate whose buffer holds the vector itself cannot
    use hash aggregation (non-mutable buffer type) and planned as
    SortAggregate — sorting |N| x K rows each carrying a 64-dim array
    (the dominant stage of every k-means query at sf0.1).  The
    projection form shuffles NOTHING: assignment cost is exactly one
    pass over the vectors, which is also the right shape at 100 TB
    (the 8 KB centroid array rides the closure broadcast; the vector
    table never moves).

    r14 batch 6: norms are hoisted out of the per-centroid lambda —
    ``cosine(v, cv)`` re-folds norm(v) AND norm(cv) for every
    centroid, so one assignment pass was 3K interpreted folds per
    vector.  norm(v) is now ONE column per row and norm(cv) a struct
    field computed once per centroid in the broadcast array; the
    lambda evaluates only the dot.  Same doubles (each norm is the
    identical fold on the identical operand — the cosine_topk / r10
    precedent), so csim and the argmax are bit-identical.

    r14 batch 7: the whole assignment projection is built as SQL
    expression STRINGS (the embed_random_projection precedent) — the
    Column-API lambdas (transform/zip_with/aggregate) cost hundreds
    of py4j round-trips per ``kmeans_assign`` call and the refine
    loop calls it iters+1 times; profiled as ~2.2 s of DRIVER plan
    construction for cluster_kmeans.  The strings parse to the same
    expression trees (double literals spelled ``0.0D``-style, same
    fold seeds, same CASE/round/named_struct shapes), so plans and
    values are unchanged.

    r15: the r14-deferred "flat-K argmax" rewrite was BUILT AND
    REVERTED after measurement killed its premise.  Three variants
    (K explicit ``get(cents, k)`` entries; K centroids pre-flattened
    to 3K named columns; each with functions.vectors.dot_sql's
    guarded unrolled dot) all measured 2-3x SLOWER in-query at sf0.1
    (flat-K: warm exec 1.9-2.5 s vs 0.79-0.81 s for this transform
    form; whole-query ann_ivf_topk min 1.9 -> 4.0 s), under both
    hugeMethodLimit=65535 and =8000.  Root cause of the premise
    failure, isolated on 2M persisted 64-dim pairs in one session:
    the ``aggregate(zip_with(...))`` fold is NOT interpreted-slow on
    this engine build — fold 0.54-0.67 s warm vs guarded-unroll
    0.57 s, i.e. parity — so unrolling buys nothing while the
    K x 64-term expression trees add janino-compile time per
    assignment plan (cluster_kmeans builds iters+1 distinct plans)
    and driver build latency.  The transform/array_max projection
    below is the measured-fastest shape; it is also the right shape
    at 100 TB (map-side only, vectors never shuffle)."""
    norm_sql = (
        "sqrt(aggregate(CAST({a} AS ARRAY<DOUBLE>), 0.0D,"
        " (acc, x) -> acc + x * x))"
    )
    cent_arr = F.broadcast(
        centroids.groupBy()
        .agg(
            F.expr(
                "array_sort(collect_list(struct(cell, cv))) AS cents0"
            )
        )
        .selectExpr(
            "transform(cents0, c -> named_struct("
            "'cell', c.cell, 'cv', c.cv, "
            f"'ncv', {norm_sql.format(a='c.cv')}"
            ")) AS cents"
        )
    )
    dot_sql = (
        "aggregate(zip_with(CAST(v AS ARRAY<DOUBLE>),"
        " CAST(c.cv AS ARRAY<DOUBLE>), (x, y) -> x * y), 0.0D,"
        " (acc, x) -> acc + x)"
    )
    scored_sql = (
        "transform(cents, c -> named_struct("
        "'csim', round(CASE WHEN (_nv * c.ncv) != 0.0D"
        f" THEN {dot_sql} / (_nv * c.ncv) END, 6), "
        "'negcell', -c.cell, "
        "'cell', c.cell))"
    )
    return (
        base.selectExpr(
            "*", f"{norm_sql.format(a='v')} AS _nv"
        )
        .crossJoin(cent_arr)
        .selectExpr("id", "v", f"array_max({scored_sql}) AS best")
        .select(
            "id",
            "v",
            F.col("best.cell").alias("cell"),
            F.col("best.csim").alias("csim"),
        )
    )


#: Salt fan-out for the within-cell pair join in ``semantic_dedup`` —
#: parallel units = num_cells x salts, bounded replication of the
#: a-side only.
_SEMDEDUP_SALTS = 8


def semantic_dedup(
    vectors: DataFrame,
    num_cells: int = 8,
    iters: int = 2,
    threshold: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster embeddings with k-means,
    then prune near-duplicates WITHIN each cluster by exact cosine.

    A vector is a duplicate iff some lower-id vector in the same
    cluster has cosine >= ``threshold`` with it (deterministic,
    order-free rule; ``dup_of`` records the smallest such id).  The
    pairwise step is cluster-blocked — the self-join key is the cell
    id, so cost is sum(|cell|^2), never |N|^2, and the clustering
    bounds each cell.  At 100 TB: write ``assigned`` bucketed by cell
    and the self-join is shuffle-free.

    Returns (id, cell, dup_of, is_kept) for every input vector.

    r14 restructure (guide §2/§4.2 — measured at sf0.1 as one 9 s
    single-task stage):

    - ``assigned`` is persisted: it feeds both self-join sides AND the
      final left join, and un-cached each consumer re-ran the full
      k-means assignment (8 interpreted cosines per vector per read).
    - per-row norms are computed ONCE before the join; the pair step
      divides by the product — the same doubles ``cosine()`` would
      compute per pair (identical expression on each operand), so
      results are bit-identical while the per-pair fold work drops
      from 3 array passes to 1 (the dot).
    - the self-join is salted: b-side rows get a deterministic
      xxhash64 salt, the a-side replicates ``_SEMDEDUP_SALTS`` ways,
      and both sides repartition width-pinned on (cell, salt) —
      with only ``num_cells`` distinct cells a plain cell join runs
      at most num_cells tasks (and AQE byte-coalescing collapsed it
      to ONE; pair cosine CPU is per-row, invisible to byte-based
      sizing).  Each (lo, hi) pair still joins exactly once (hi's
      salt is a function of id_hi), so the pair set is unchanged.
    """
    from ..functions.vectors import dot, norm

    nsalts = _SEMDEDUP_SALTS
    width = vectors.sparkSession.sparkContext.defaultParallelism
    _, assigned = kmeans_refine(vectors, num_cells, iters, id_col, vec_col)
    assigned = (
        assigned.withColumn("nv", norm(F.col("v"))).repartition(
            width, "cell"
        )
        .persist()
    )
    a = assigned.select(
        "cell",
        F.col("id").alias("id_lo"),
        F.col("v").alias("v_lo"),
        F.col("nv").alias("nv_lo"),
    ).withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(nsalts - 1)))
    )
    b = assigned.select(
        "cell",
        F.col("id").alias("id_hi"),
        F.col("v").alias("v_hi"),
        F.col("nv").alias("nv_hi"),
    ).withColumn(
        "salt", F.pmod(F.xxhash64("id_hi"), F.lit(nsalts)).cast("int")
    )
    denom = F.col("nv_lo") * F.col("nv_hi")
    dup_links = (
        a.repartition(width, "cell", "salt")
        .join(b.repartition(width, "cell", "salt"), ["cell", "salt"])
        .filter(F.col("id_lo") < F.col("id_hi"))
        .withColumn(
            "sim",
            F.round(
                F.when(denom != 0, dot(F.col("v_lo"), F.col("v_hi")) / denom),
                4,
            ),
        )
        .filter(F.col("sim") >= threshold)
        .groupBy("id_hi")
        .agg(F.min("id_lo").alias("dup_of"))
    )
    return (
        assigned.join(dup_links, assigned.id == dup_links.id_hi, "left")
        .select(
            "id",
            "cell",
            "dup_of",
            F.col("dup_of").isNull().alias("is_kept"),
        )
    )


def kmeans_refine(
    vectors: DataFrame,
    num_cells: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Lloyd refinement of the IVF coarse quantizer (the step
    ``ivf_assign`` leaves to production): seeds = the ``num_cells``
    smallest-id vectors, then ``iters`` rounds of assign -> recompute.

    Everything is DataFrame-native and distributed:
    - assign: broadcast K centroids, map-side argmax (no vector shuffle);
    - recompute: posexplode to (cell, dim, val), hash-aggregate the
      per-dimension means (partial aggregation map-side — the shuffle
      carries K x dim partial sums per partition, NOT vectors), and
      re-assemble the centroid arrays with sort+transform.
    Centroid components are EXACT-integer means on a 1e-6 grid (r8:
    values quantize to integer micro-units BEFORE the sum — integer
    sums are association-order independent, so the result is
    bit-deterministic at any partitioning; a float avg() then
    round(,6) could flip a boundary by 1 ulp between engines/runs,
    the pagerank flake class).  K x dim stays tiny (driver-free:
    centroids never leave the cluster).

    Returns (centroids(cell, cv), assigned(id, v, cell, csim))."""
    from pyspark.sql import Window

    base = vectors.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    w_seed = Window.orderBy("id")
    centroids = (
        base.orderBy("id")
        .limit(num_cells)
        .select((F.row_number().over(w_seed) - 1).alias("cell"), F.col("v").alias("cv"))
    )

    for _ in range(iters):
        assigned = kmeans_assign(base, centroids)
        # r14: persist each iteration's K x dim centroid frame (tiny
        # by construction).  Un-cached, every consumer of the FINAL
        # assignment re-evaluated the whole iters-deep
        # assign->recompute chain — iters extra passes over the
        # vector table per consumer; cached, a re-evaluation is one
        # assignment pass against the materialized centroids.
        # r14 batch 7: the micro-grid mean and the re-assembly are
        # SQL strings (same literals/casts/shapes as the old Column
        # chain — 1e6 spelled as the DOUBLE literal the Column form
        # produced) to cut per-iteration py4j plan-construction cost.
        centroids = (
            assigned.selectExpr("cell", "posexplode(v) AS (pos, val)")
            .groupBy("cell", "pos")
            .agg(
                F.expr(
                    "floor(CAST(sum(CAST(floor(val * 1000000.0D + 0.5D)"
                    " AS BIGINT)) AS DOUBLE) / count(1) + 0.5D)"
                    " / 1000000.0D AS val"
                )
            )
            .groupBy("cell")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, val))),"
                    " x -> x.val) AS cv"
                )
            )
            .persist()
        )
    return centroids, kmeans_assign(base, centroids)


def _portable_sign_bit(table: int, plane: int, dim: Column) -> Column:
    """Engine-portable Rademacher weight: bit 0 of md5-derived hash of
    'table:plane:dim' decides +1/-1 — replayable in any engine with
    md5 (the xxhash64 form stays the fast path)."""
    from ..functions.hashing import md5_long

    return md5_long(
        F.concat_ws(
            ":", F.lit(str(table)), F.lit(str(plane)), dim.cast("string")
        )
    ).bitwiseAND(F.lit(1))


def _portable_plane_dot_sql(t: int, p: int) -> str:
    """SQL-string twin of the ``_portable_sign_bit`` integer plane dot
    over an ``fx`` fixed-point column.  Module level for the
    equivalence pin (tests/test_lsh_signature_equivalence.py)."""
    sign_bit = (
        "CAST(conv(substring(md5(concat_ws("
        f"':', '{t}', '{p}', CAST(d AS STRING))), 1, 15), 16, 10)"
        " AS BIGINT) & 1"
    )
    return (
        "aggregate(zip_with(fx, sequence(0, size(fx) - 1),"
        f" (x, d) -> CASE WHEN ({sign_bit}) = 1 THEN x ELSE -x END),"
        " CAST(0 AS BIGINT), (a, x) -> a + x)"
    )


def _portable_sig_sql(t: int, num_planes: int) -> str:
    """SQL-string twin of the portable signature bitmask."""
    return " + ".join(
        ["0"]
        + [
            f"CASE WHEN {_portable_plane_dot_sql(t, p)} > 0"
            f" THEN {1 << p} ELSE 0 END"
            for p in range(num_planes)
        ]
    )


def lsh_ann_pairs_portable(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 12,
    num_tables: int = 2,
    threshold: float = 0.3,
    scale: int = 1_000_000,
) -> DataFrame:
    """Hyperplane-LSH near-neighbor pairs with every signature decision
    integer-exact: embeddings are fixed-pointed (round(x * scale) as
    long), plane weights come from md5-derived hash bits, and each
    plane dot is an integer sum — so sign(dot) can never diverge
    between engines on float summation order, and a SQL oracle replays
    the exact buckets.  Verification cosine stays float (rounded 4,
    like every other similarity oracle).  The xxhash64/float
    ``lsh_ann_pairs`` remains the production form."""
    # shared degenerate-vector guard; cast_double keeps the cast
    # ahead of the fixed-pointing (ADVICE r10: one guard definition
    # across both LSH variants)
    # r14: width-pinned entry repartition (same rationale as
    # lsh_ann_pairs — the integer plane dots are the CPU).
    base = _nonzero_norm_base(
        vectors, id_col, vec_col, cast_double=True
    ).repartition(
        vectors.sparkSession.sparkContext.defaultParallelism, "id"
    )
    fixed = base.withColumn(
        "fx",
        F.transform(F.col("v"), lambda x: F.round(x * scale).cast("long")),
    )

    # r14 batch 7: the num_tables x num_planes integer plane dots are
    # ONE selectExpr string (same py4j-latency fix as lsh_ann_pairs;
    # the md5 sign-bit chain, the CAST(0 AS BIGINT) fold seed and the
    # string literals are spelled exactly as the Column forms parsed,
    # so every signature long — and hence the oracle-replayed bucket
    # set — is unchanged).
    structs = ", ".join(
        f"named_struct('tbl', {t},"
        f" 'sig', CAST({_portable_sig_sql(t, num_planes)} AS BIGINT))"
        for t in range(num_tables)
    )
    sigs = fixed.selectExpr(
        "id", "v", f"explode(array({structs})) AS s"
    ).select("id", "v", "s.tbl", "s.sig")
    return _verify_candidate_pairs(sigs, threshold)
