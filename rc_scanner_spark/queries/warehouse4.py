"""Round-6 batch 10: scalable global sequence assignment, Theil-Sen
robust trend, Benford first-digit profiling, and Johnson-Lindenstrauss
random projection.

Why these belong in a 100 TB training-data engine:

* ``seq_global_row_number`` — assigning a global contiguous sequence
  (shard ids, stable sample ids, resumable cursor positions) is a
  classic scale trap: the naive ``row_number() OVER (ORDER BY ...)``
  plans a SINGLE-partition window — one task sorts the entire corpus.
  The two-phase form here (per-bucket counts -> tiny cumulative-offset
  frame -> partitioned row_number + offset) keeps every stage
  distributed; only the per-bucket COUNT aggregate (one row per day)
  ever converges to one task.
* ``events_theilsen_trend`` — the median-of-pairwise-slopes estimator
  is the standard outlier-robust replacement for OLS trend on noisy
  event volumes.  The pair fan-out is bounded per group (days^2 per
  event_type, ~4k pairs at 90 days) regardless of raw event count,
  because pairs are formed on the per-day AGGREGATE, never on events.
* ``profile_benford`` — first-significant-digit distribution vs the
  Benford expectation is a cheap corpus-wide fraud / synthetic-data
  screen; one map-side digit extraction plus a 9-row aggregate.
* ``embed_random_projection`` — JL projection compresses wide float
  embeddings (64-d here) to a few dimensions before ANN candidate
  generation / coarse clustering; a pure map-side dot product against
  a broadcast-literal matrix — zero shuffles at any corpus size.

Engine-parity notes (the reason for the integer-first output forms):
money goes through integer cents, shares through integer ppm with
truncating ``div``/``//``; the Benford digit is taken from the DECIMAL
STRING of the integer-cents value (``floor(log10())`` on doubles
mis-bins exact powers of ten); the JL matrix is Python-precomputed and
embedded as identical ``m/1000000.0`` literals on both sides, and both
sides sum the 64 products in identical left-to-right IEEE order.
"""

from __future__ import annotations

import hashlib
import math
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from . import QuerySpec, load_tuned

_t = load_tuned


# --------------------------------------------------------------------
# scalable global row numbering (two-phase, no global sort window)
# --------------------------------------------------------------------


def q_seq_global_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global contiguous sequence over events ordered by (ts,
    event_id) WITHOUT a single-partition window.

    Phase 1: count rows per day (distributed aggregate).
    Phase 2: cumulative offset per day — a window over the ~O(days)
    aggregate frame (bounded cardinality; allowlisted in
    tests/test_plan_audit.py).
    Phase 3: broadcast the day->offset map back and take
    ``row_number()`` partitioned BY DAY plus the day's offset.

    The oracle is the naive global ``row_number() OVER (ORDER BY ts,
    event_id)`` — the rewrite must be value-identical while keeping
    the big sort partitioned.  (ts, event_id) is a total order because
    event_id is unique.  Rows with a NULL ts are excluded on BOTH
    sides (a NULL day would silently fall out of the inner
    day-offset join while the naive window numbers it — engines also
    disagree on NULL sort position, so sequencing undated rows is
    undefined here by contract)."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("event_id", "ts", F.to_date("ts").alias("day"))
    )
    per_day = ev.groupBy("day").agg(F.count(F.lit(1)).alias("day_n"))
    w_off = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = per_day.select(
        "day",
        F.coalesce(F.sum("day_n").over(w_off), F.lit(0)).alias("day_offset"),
    )
    w_day = Window.partitionBy("day").orderBy("ts", "event_id")
    return (
        ev.join(F.broadcast(offsets), "day")
        .select(
            "event_id",
            (F.row_number().over(w_day) + F.col("day_offset"))
            .cast("bigint")
            .alias("seq"),
        )
        .orderBy("event_id")
    )


SQL_SEQ_GLOBAL_ROW_NUMBER = """
SELECT event_id,
       CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT) AS seq
FROM events
WHERE ts IS NOT NULL
ORDER BY event_id
"""


# --------------------------------------------------------------------
# Theil-Sen robust trend per event_type
# --------------------------------------------------------------------


def q_events_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen slope of daily event volume per event_type: the
    MEDIAN of all pairwise slopes (n_b - n_a) / (day_b - day_a) over
    distinct day pairs.  Robust to single-day outliers that wreck an
    OLS fit.

    Scale: pairs form on the per-(type, day) aggregate — at most
    days-choose-2 pairs per type (~4k at 90 days) however many raw
    events exist; the self-join carries the event_type equi key so the
    day inequality is a residual predicate, never a cartesian.  Slope
    division is double/double (day gap > 0 by the join condition —
    no ANSI divide-by-zero path); the median is exact
    (Spark ``median`` == DuckDB ``median`` == quantile_cont(0.5)),
    reported as truncation-stable integer ppm."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = daily.alias("a")
    b = daily.alias("b")
    slope = (F.col("b.n") - F.col("a.n")).cast("double") / F.datediff(
        F.col("b.day"), F.col("a.day")
    ).cast("double")
    return (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .select(F.col("a.event_type").alias("event_type"), slope.alias("slope"))
        .groupBy("event_type")
        .agg(
            F.floor(F.median("slope") * F.lit(1000000.0) + F.lit(0.5))
            .cast("bigint")
            .alias("slope_ppm"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
        .orderBy("event_type")
    )


SQL_EVENTS_THEILSEN_TREND = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT a.event_type AS event_type,
       CAST(floor(median(CAST(b.n - a.n AS DOUBLE)
                         / CAST(b.day - a.day AS DOUBLE)) * 1000000.0
                  + 0.5) AS BIGINT) AS slope_ppm,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM daily a
JOIN daily b ON a.event_type = b.event_type AND a.day < b.day
GROUP BY 1
ORDER BY 1
"""


# --------------------------------------------------------------------
# Benford first-digit profile
# --------------------------------------------------------------------

# Expected Benford share per first digit, integer ppm, precomputed in
# Python and embedded as identical literals on both sides (libm log10
# is not guaranteed bit-identical across engines).
_BENFORD_PPM: dict[int, int] = {
    d: int(math.floor(math.log10(1.0 + 1.0 / d) * 1e6 + 0.5))
    for d in range(1, 10)
}


def q_profile_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of o_totalprice vs the
    Benford expectation, as integer-ppm deviations.

    The digit comes from the decimal STRING of the exact integer-cents
    value — ``floor(log10(x))`` on doubles mis-bins exact powers of
    ten (log10(1000.) can evaluate to 2.999...), and string rendering
    of a BIGINT is engine-exact.  Shares are truncating integer ppm.

    Scale: one map-side digit extraction, a 9-row aggregate, and a
    1-row grand-total broadcast (allowlisted cartesian) — O(n) scan,
    O(1) result."""
    expected = F.create_map(
        *[F.lit(x) for kv in _BENFORD_PPM.items() for x in kv]
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    per = (
        _t(spark, sf_dir, "orders")
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    )
    total = per.agg(F.sum("obs").alias("n_total"))
    # double-first ppm: obs * 1000000 as BIGINT wraps past ~9.2e12 rows
    # (the silent at-scale divergence class) — mirrored floor(double)
    # on both sides instead.
    obs_ppm = F.floor(
        F.col("obs").cast("double") * F.lit(1000000.0) / F.col("n_total")
    )
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "obs",
            obs_ppm.cast("bigint").alias("obs_ppm"),
            expected[F.col("digit")].cast("bigint").alias("expected_ppm"),
            (obs_ppm - expected[F.col("digit")])
            .cast("bigint")
            .alias("dev_ppm"),
        )
        .orderBy("digit")
    )


_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {ppm}" for d, ppm in _BENFORD_PPM.items()
) + " END"

SQL_PROFILE_BENFORD = f"""
WITH per AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit,
         CAST(count(*) AS BIGINT) AS obs
  FROM orders GROUP BY 1
), tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n_total FROM per)
SELECT digit, obs,
       CAST(floor(CAST(obs AS DOUBLE) * 1000000.0 / n_total) AS BIGINT)
         AS obs_ppm,
       CAST({_BENFORD_CASE} AS BIGINT) AS expected_ppm,
       CAST(floor(CAST(obs AS DOUBLE) * 1000000.0 / n_total)
            - ({_BENFORD_CASE}) AS BIGINT) AS dev_ppm
FROM per, tot
ORDER BY digit
"""


# --------------------------------------------------------------------
# Johnson-Lindenstrauss random projection
# --------------------------------------------------------------------

_JL_IN_DIM = 64
_JL_OUT_DIM = 8


def _jl_matrix() -> list[list[int]]:
    """Deterministic projection matrix in integer micro-units:
    m[i][j] = (md5("rp_<i>_<j>") mod 2000001) - 1000000, i.e. uniform
    in [-1e6, 1e6].  Python-precomputed so BOTH engines receive the
    same ``m/1000000.0`` double literals — no in-engine hash or RNG
    parity surface at all."""
    return [
        [
            int(hashlib.md5(f"rp_{i}_{j}".encode()).hexdigest()[:15], 16)
            % 2000001
            - 1000000
            for j in range(_JL_OUT_DIM)
        ]
        for i in range(_JL_IN_DIM)
    ]


def q_embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project the 64-d float embedding to 8 dims with a fixed random
    +-uniform matrix (Johnson-Lindenstrauss): out_j = sum_i emb[i] *
    m[i][j].  The compressed vectors feed coarse clustering / ANN
    candidate generation at a fraction of the shuffle width.

    Scale: the matrix is a driver-side literal (64x8 ints) folded into
    the projected expressions — a pure map-side transform with NO
    shuffle, no UDF, and whole-stage codegen over the 512 multiply-adds.

    Parity: both sides evaluate the SAME left-to-right chain
    ``cast(emb[i] as double) * (m/1000000.0) + ...`` — identical IEEE
    operation order — then snap to integer micro-units."""
    m = _jl_matrix()
    emb = _t(spark, sf_dir, "embeddings")
    # r14: the 8 x 64 multiply-add chains are built as SQL expression
    # STRINGS (one py4j call each) instead of ~1,500 Column-API calls
    # — profiled 4.1 s of pure driver plan-construction latency per
    # build at sf0.1.  The strings are the oracle twin's own chains:
    # same left-to-right association, same literals (Python's
    # m/1000000.0 and SQL's constant-folded division are the same
    # correctly-rounded double), so the result is bit-identical.
    exprs = []
    for j in range(_JL_OUT_DIM):
        # element_at is 1-based like the DuckDB twin's subscript
        # (Spark's own [] subscript is 0-based).
        chain = " + ".join(
            f"CAST(element_at(embedding, {i + 1}) AS DOUBLE)"
            f" * ({m[i][j]} / 1000000.0)"
            for i in range(_JL_IN_DIM)
        )
        exprs.append(
            f"CAST(floor(({chain}) * 1000000.0 + 0.5) AS BIGINT) AS p{j}"
        )
    return emb.selectExpr("vec_id", *exprs).orderBy("vec_id")


def _jl_sql() -> str:
    m = _jl_matrix()
    outs = []
    for j in range(_JL_OUT_DIM):
        chain = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * ({m[i][j]} / 1000000.0)"
            for i in range(_JL_IN_DIM)
        )
        outs.append(
            f"CAST(floor(({chain}) * 1000000.0 + 0.5) AS BIGINT) AS p{j}"
        )
    cols = ",\n       ".join(outs)
    return f"SELECT vec_id,\n       {cols}\nFROM embeddings\nORDER BY vec_id"


SQL_EMBED_RANDOM_PROJECTION = _jl_sql()


# --------------------------------------------------------------------
# incremental aggregate maintenance (mergeable partial states)
# --------------------------------------------------------------------


def q_agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: per-type stats kept as MERGEABLE
    partial states (count, sum, min, max in integer cents) over a
    historical snapshot (day < max_day - 7) and a delta batch (the
    last week), then MERGED — sum of counts/sums, min of mins, max of
    maxes — instead of rescanning history.  The oracle is the full
    recompute over all events; the merge must be value-identical.

    This is the foundation of not re-reading 100 TB of history every
    day: only algebraic/mergeable aggregates (no exact median here)
    can be maintained this way, and avg is DERIVED from (sum, count)
    after the merge, never stored.

    Scale: each partial is one hash aggregate over its slice; the
    merge aggregates 2x|types| partial rows.  The cutoff is a 1-row
    broadcast (allowlisted; appears twice in the lazy plan — once per
    branch)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    cutoff = ev.agg(F.date_sub(F.max("day"), 7).alias("cutoff"))
    tagged = ev.crossJoin(F.broadcast(cutoff))

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum("cents").alias("ps"),
            F.min("cents").alias("pmn"),
            F.max("cents").alias("pmx"),
        )

    # NULL-day rows must land in exactly one branch or the merge !=
    # full-recompute contract breaks (day < cutoff AND day >= cutoff
    # are both NULL for them); they go to the delta with the other
    # not-yet-snapshotted rows.
    snap = partial(tagged.filter(F.col("day") < F.col("cutoff")))
    delta = partial(
        tagged.filter(
            F.col("day").isNull() | (F.col("day") >= F.col("cutoff"))
        )
    )
    return (
        snap.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("pn").cast("bigint").alias("n_events"),
            F.sum("ps").cast("bigint").alias("sum_cents"),
            F.min("pmn").cast("bigint").alias("min_cents"),
            F.max("pmx").cast("bigint").alias("max_cents"),
        )
        .withColumn("avg_cents", F.expr("sum_cents div n_events").cast("bigint"))
        .orderBy("event_type")
    )


SQL_AGG_INCREMENTAL_MERGE = """
WITH c AS (
  SELECT event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS sum_cents,
       CAST(min(cents) AS BIGINT) AS min_cents,
       CAST(max(cents) AS BIGINT) AS max_cents,
       CAST(CAST(sum(cents) AS BIGINT) // count(*) AS BIGINT) AS avg_cents
FROM c
GROUP BY 1
ORDER BY 1
"""


# --------------------------------------------------------------------
# day-of-week seasonality profile
# --------------------------------------------------------------------


def q_events_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week volume profile per event_type: share of the type's
    events landing on each weekday (0=Monday), with ppm deviation from
    the uniform 1/7 expectation — the quick screen for weekly
    seasonality before any windowed model.

    Parity: Spark ``weekday()`` (Mon=0) == DuckDB ``isodow - 1``.
    Scale: one map-side weekday extraction and a (type x 7) aggregate;
    the per-type total comes from a window PARTITIONED by type over
    the tiny aggregate."""
    per = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.weekday(F.to_date("ts")).alias("dow"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type")
    # double-first ppm: n * 1000000 as BIGINT wraps past ~9.2e12 rows.
    share = F.floor(
        F.col("n").cast("double") * F.lit(1000000.0) / F.col("tot")
    )
    return (
        per.withColumn("tot", F.sum("n").over(w))
        .select(
            "event_type",
            "dow",
            F.col("n").cast("bigint").alias("n"),
            share.cast("bigint").alias("share_ppm"),
            (share - F.lit(142857)).cast("bigint").alias("dev_ppm"),
        )
        .orderBy("event_type", "dow")
    )


SQL_EVENTS_DOW_SEASONALITY = """
WITH per AS (
  SELECT event_type, isodow(CAST(ts AS DATE)) - 1 AS dow,
         count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, dow, CAST(n AS BIGINT) AS n,
       CAST(floor(CAST(n AS DOUBLE) * 1000000.0
                  / sum(n) OVER (PARTITION BY event_type))
            AS BIGINT) AS share_ppm,
       CAST(floor(CAST(n AS DOUBLE) * 1000000.0
                  / sum(n) OVER (PARTITION BY event_type))
            - 142857 AS BIGINT) AS dev_ppm
FROM per
ORDER BY event_type, dow
"""


# --------------------------------------------------------------------
# broadcast-dictionary keyword tagging
# --------------------------------------------------------------------

_TAG_KEYWORDS = ("hash", "join", "merge", "spark", "stream", "window")


def q_text_keyword_tagging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary tagging: document frequency and total occurrences of
    a fixed keyword list over the corpus — the primitive behind topic
    tagging / blocklist screening with curated vocabularies.

    Scale: tokenize map-side (the registry's standard ``[a-z]+``
    tokenizer), explode, and equi-join the token stream against the
    BROADCAST keyword dim — the corpus-sized side never shuffles for
    the join; only the final (keyword) aggregate does, with at most
    |dict| groups.  A real deployment swaps the literal list for a
    broadcast-read dictionary table; the plan is identical."""
    tok = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("w"),
    )
    kw = spark.createDataFrame([(k,) for k in _TAG_KEYWORDS], "keyword string")
    return (
        tok.join(F.broadcast(kw), tok.w == kw.keyword)
        .groupBy("keyword")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("doc_freq"),
            F.count(F.lit(1)).cast("bigint").alias("occurrences"),
        )
        .orderBy("keyword")
    )


SQL_TEXT_KEYWORD_TAGGING = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
  FROM documents
), kw(keyword) AS (
  VALUES {", ".join(f"('{k}')" for k in _TAG_KEYWORDS)}
)
SELECT keyword,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq,
       CAST(count(*) AS BIGINT) AS occurrences
FROM tok JOIN kw ON w = keyword
GROUP BY 1
ORDER BY 1
"""


# --------------------------------------------------------------------
# PCA eigenspectrum of the embedding covariance (rows-only)
# --------------------------------------------------------------------


def q_embed_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explained-variance spectrum of the embedding covariance: the
    top-8 eigenvalue shares (ppm) that decide how hard embeddings can
    be compressed (PCA whitening / dim reduction) before ANN.

    Architecture (MLlib RowMatrix's gramian pattern, re-expressed on
    the DataFrame API): one Arrow-batched ``mapInPandas`` pass emits a
    PER-PARTITION partial (X^T X gram, column sums, count) — a single
    64x64 float64 matrix per partition regardless of partition size —
    then a SECOND-LEVEL merge (``groupBy(pmod(spark_partition_id, 32))``
    + ``applyInPandas``) folds the partials to <= 32 rows BEFORE the
    driver collect, so the driver pull is O(32 * d^2) floats at any
    partition count (at 100 TB with ~1e5 input partitions the one-level
    pull would be multi-GB; VERDICT r6 item 5).  The driver reduces the
    <= 32 merged partials and runs the 64x64 ``eigh`` locally — the
    O(n) work is fully distributed, the final eigh inherently
    driver-side.

    Rows-only (no SQL twin): eigendecomposition is not
    SQL-expressible; the planted test replays the spectrum with numpy
    on a hand-built fixture."""
    import numpy as np
    import pandas as pd

    d = _JL_IN_DIM
    emb = _t(spark, sf_dir, "embeddings").select("embedding")

    def gram_partial(batches):
        G = np.zeros((d, d))
        s = np.zeros(d)
        n = 0
        for pdf in batches:
            M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            G += M.T @ M
            s += M.sum(axis=0)
            n += M.shape[0]
        if n:
            yield pd.DataFrame(
                {"g": [G.ravel().tolist()], "s": [s.tolist()], "n": [n]}
            )

    partial_schema = "g array<double>, s array<double>, n long"

    def gram_merge(pdf):
        Gm = np.zeros(d * d)
        sm = np.zeros(d)
        nm = 0
        for g_arr, s_arr, cnt in zip(pdf["g"], pdf["s"], pdf["n"]):
            Gm += np.asarray(g_arr, dtype=np.float64)
            sm += np.asarray(s_arr, dtype=np.float64)
            nm += int(cnt)
        return pd.DataFrame({"g": [Gm.tolist()], "s": [sm.tolist()], "n": [nm]})

    parts = (
        emb.mapInPandas(gram_partial, partial_schema)
        .groupBy(F.pmod(F.spark_partition_id(), F.lit(32)).alias("b"))
        .applyInPandas(gram_merge, partial_schema)
        .collect()  # bounded: <= 32 merged partials at ANY partition count
    )
    out_schema = "component int, evr_ppm bigint, cum_ppm bigint"
    G = np.zeros((d, d))
    s = np.zeros(d)
    n = 0
    for r in parts:
        G += np.array(r["g"]).reshape(d, d)
        s += np.array(r["s"])
        n += r["n"]
    if n == 0:  # empty table: no spectrum
        return spark.createDataFrame([], out_schema)
    mu = s / n
    cov = G / n - np.outer(mu, mu)
    ev = np.linalg.eigvalsh(cov)[::-1]  # descending
    total = float(ev.sum())
    if total <= 0.0:  # constant embeddings: zero variance everywhere
        shares = [0] * 8
    else:
        shares = [
            int(math.floor(float(v) / total * 1e6 + 0.5)) for v in ev[:8]
        ]
    rows = []
    cum = 0
    for i, ppm in enumerate(shares):
        cum += ppm
        rows.append((i, ppm, cum))
    return spark.createDataFrame(rows, out_schema)


# --------------------------------------------------------------------
# synchronous label propagation (community detection)
# --------------------------------------------------------------------


def _lpa_und_frame(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """The undirected (u, v) edge-direction frame over the shared
    support-pruned co-purchase edges (pass ``edges`` to reuse an
    already-built frame instead of re-deriving it).

    (r14 batch 8 note: persisting this frame hash(v)-partitioned was
    tried and REVERTED — the union over the already-cached pruned
    edges is a cheap map, and the extra cache materialization + the
    serialized first read cost more than the per-round re-shuffle it
    saved; matched A/B read label_propagation 1.04-1.14x WORSE with
    the persist.)"""
    from .warehouse2 import _copurchase_edges

    if edges is None:
        edges = _copurchase_edges(spark, sf_dir)
    return edges.select(
        F.col("pa").alias("u"), F.col("pb").alias("v")
    ).union(edges.select(F.col("pb").alias("u"), F.col("pa").alias("v")))


def _lpa_labels(
    spark: SparkSession, sf_dir: str, und: DataFrame | None = None
) -> DataFrame:
    """(u, lbl) after 3 synchronous mode-propagation rounds — the ONE
    definition of the deterministic LPA sweep, shared by the community
    report and the modularity score."""
    if und is None:
        und = _lpa_und_frame(spark, sf_dir)
    labels = und.select(F.col("u"), F.col("u").alias("lbl")).distinct()
    # (r14 batch 8 note: a width-pinned repartition(u) ahead of the
    # two aggregates was tried and REVERTED — hash(u) satisfies both
    # clusterings (subset rule), but it shuffles the RAW neighbor
    # rows where the (u, lbl) count's partial aggregation compresses
    # them first; matched A/B read 1.03-1.15x WORSE.  The
    # dedup_containment trade-off went the other way here.)
    #
    # r15 (r14 verdict item 6): the per-round mode is ONE aggregation
    # — ``mode(lbl, deterministic=true)`` — instead of the
    # count-then-argmax pair.  Spark's deterministic Mode breaks
    # frequency ties by the LOWEST value, exactly the
    # max(struct(c, -lbl)) rule (equality verified on tie fixtures),
    # and its partial buffers are per-(u) label->count maps, so the
    # map-side compression the (u, lbl) count provided is preserved
    # while the second exchange (hash(u, lbl) -> hash(u)) disappears:
    # one exchange per round instead of two, 3 rounds per sweep, and
    # the modularity query runs the sweep under a persist barrier so
    # the saving is real work, not lazy-plan text.
    for _ in range(3):
        nb = und.join(
            labels.withColumnRenamed("u", "v"), "v"
        ).select("u", "lbl")
        labels = nb.groupBy("u").agg(
            F.mode("lbl", True).alias("lbl")
        )
    return labels


def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities on the shared co-purchase graph:
    labels start as the node id; each of 3 SYNCHRONOUS rounds
    reassigns every node the MODE of its neighbors' labels (ties ->
    smallest label, making the sweep fully deterministic — vanilla
    async LPA is order-dependent and unreproducible at scale).
    Output: per-community size and smallest member after round 3.

    Distinct from connected components (operators/graph.py): CC's
    min-label converges to one label per component; mode-propagation
    splits dense components into internally-well-connected communities.

    Scale: the edge frame is the persisted support-pruned
    _copurchase_edges (shared with triangles / k-core / link
    prediction); each round is one join + one (node, label) aggregate
    + one argmax aggregate, all shuffled on node id.  The mode-argmax
    is an AGGREGATE (max of (count, -label) structs), not a per-node
    window, on both sides.  Each round references the previous labels
    exactly once, so the lazy plan grows linearly — no per-round
    persist needed (contrast graph_kcore's 3-reference rounds)."""
    labels = _lpa_labels(spark, sf_dir)
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("u").alias("min_member"),
        )
        .orderBy("community")
    )


def _lpa_round_sql(prev: str, name: str) -> str:
    return f"""{name} AS (
  SELECT u, -(max({{'c': c, 'nl': -lbl}}).nl) AS lbl FROM (
    SELECT nb.u AS u, l.lbl AS lbl, count(*) AS c
    FROM und nb JOIN {prev} l ON nb.v = l.u
    GROUP BY 1, 2
  ) GROUP BY u
)"""


def _lpa_sql() -> str:
    from .warehouse2 import _SQL_EDGES_CTE

    return f"""
WITH {_SQL_EDGES_CTE},
und AS (
  SELECT pa AS u, pb AS v FROM edges
  UNION ALL SELECT pb, pa FROM edges
),
l0 AS (SELECT DISTINCT u, u AS lbl FROM und),
{_lpa_round_sql('l0', 'l1')},
{_lpa_round_sql('l1', 'l2')},
{_lpa_round_sql('l2', 'l3')}
SELECT lbl AS community,
       CAST(count(*) AS BIGINT) AS n_members,
       min(u) AS min_member
FROM l3
GROUP BY 1
ORDER BY 1
"""


SQL_GRAPH_LABEL_PROPAGATION = _lpa_sql()


def q_graph_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the 3-round LPA communities (1 row):
    Q = Σ_c [ e_c/m − (d_c/2m)² ] with e_c the intra-community edge
    count, d_c the community degree sum, m the (undirected) edge count
    — the standard "are these communities better than random" score
    next to the community listing.

    Integer ppm terms (both DIV quotients are <= 1e6 by construction,
    so no overflow guard is needed) summed across communities — the
    cross-community reduction never touches a float.  Scale: the label
    frame joins the shared pruned edge list twice (both shuffles hash
    on the node key); the 1-row m scalar broadcasts."""
    from .warehouse2 import _copurchase_edges

    edges = _copurchase_edges(spark, sf_dir).select("pa", "pb")
    und = _lpa_und_frame(spark, sf_dir, edges)
    # labels feed THREE consumers (both edge endpoints + the degree
    # rollup): persist per repo convention, or the lazy plan
    # replicates the 6-shuffle LPA sweep under each (review r10; the
    # graph_kcore precedent)
    labels = _lpa_labels(spark, sf_dir, und).persist()
    mm = edges.agg(F.count(F.lit(1)).alias("m"))
    la = labels.select(F.col("u").alias("pa"), F.col("lbl").alias("ca"))
    lb = labels.select(F.col("u").alias("pb"), F.col("lbl").alias("cb"))
    ec = (
        edges.join(la, "pa")
        .join(lb, "pb")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    dc = (
        deg.join(labels, "u")
        .groupBy(F.col("lbl").alias("community"))
        .agg(F.sum("d").alias("d_c"))
    )
    terms = (
        dc.join(ec, "community", "left")
        .crossJoin(F.broadcast(mm))
        .selectExpr(
            "m",
            "CAST(coalesce(e_c, 0) AS decimal(19,0)) * 1000000 DIV m"
            " - (CAST(d_c AS decimal(19,0)) * CAST(d_c AS decimal(19,0))"
            "    * 1000000)"
            "   DIV (CAST(m AS decimal(19,0)) * CAST(m AS decimal(19,0)) * 4)"
            " AS term_ppm",
        )
    )
    return terms.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.max("m").alias("m_edges"),
        F.sum("term_ppm").cast("long").alias("modularity_ppm"),
    )


SQL_GRAPH_COMMUNITY_MODULARITY = f"""
WITH {{edges_cte}},
und AS (
  SELECT pa AS u, pb AS v FROM edges
  UNION ALL SELECT pb, pa FROM edges
),
l0 AS (SELECT DISTINCT u, u AS lbl FROM und),
{{r1}},
{{r2}},
{{r3}},
mm AS (SELECT count(*) AS m FROM edges),
ec AS (
  SELECT la.lbl AS community, count(*) AS e_c
  FROM edges e JOIN l3 la ON e.pa = la.u JOIN l3 lb ON e.pb = lb.u
  WHERE la.lbl = lb.lbl GROUP BY 1
),
deg AS (SELECT u, count(*) AS d FROM und GROUP BY u),
dc AS (
  SELECT l.lbl AS community, CAST(sum(d) AS BIGINT) AS d_c
  FROM deg JOIN l3 l ON deg.u = l.u GROUP BY 1
),
terms AS (
  SELECT m,
         CAST(coalesce(e_c, 0) AS HUGEINT) * 1000000 // m
         - (CAST(d_c AS HUGEINT) * d_c * 1000000)
           // (CAST(m AS HUGEINT) * m * 4) AS term_ppm
  FROM dc LEFT JOIN ec USING (community) CROSS JOIN mm
)
SELECT CAST(count(*) AS BIGINT) AS n_communities,
       CAST(max(m) AS BIGINT) AS m_edges,
       CAST(sum(term_ppm) AS BIGINT) AS modularity_ppm
FROM terms
"""


def _modularity_sql() -> str:
    from .warehouse2 import _SQL_EDGES_CTE

    return SQL_GRAPH_COMMUNITY_MODULARITY.format(
        edges_cte=_SQL_EDGES_CTE,
        r1=_lpa_round_sql("l0", "l1"),
        r2=_lpa_round_sql("l1", "l2"),
        r3=_lpa_round_sql("l2", "l3"),
    )


# --------------------------------------------------------------------
# inverted-index build (posting lists)
# --------------------------------------------------------------------


def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized inverted index over the corpus: per term, document
    frequency, total term frequency, and the top-3 posting heads
    (highest tf, doc_id tiebreak) rendered as a deterministic
    "doc:tf" string — the build step behind BM25 / retrieval serving.

    Scale: tokenize-explode map-side, one (term, doc) aggregate, then
    a term-partitioned top-k window on the AGGREGATED postings (never
    raw tokens) and ONE final per-term aggregate producing df,
    total_tf, and the heads together (``collect_list`` drops the
    NULLs of ``when(rn <= 3)``, so the heads cap rides the same pass
    as the full-posting stats — no stats/heads rejoin, no duplicated
    tf subtree).  Every shuffle is keyed on the term, and posting
    heads are capped at k=3 so the result stays O(vocab)."""
    tf = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit("[a-z]+"), 0
                )
            ).alias("term"),
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.partitionBy("term").orderBy(
        F.col("tf").desc(), F.col("doc_id").asc()
    )
    head = F.when(
        F.col("rn") <= 3,
        F.struct(
            F.col("rn"),
            F.concat_ws(
                ":",
                F.col("doc_id").cast("string"),
                F.col("tf").cast("string"),
            ).alias("s"),
        ),
    )
    return (
        tf.withColumn("rn", F.row_number().over(w))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.sum("tf").cast("bigint").alias("total_tf"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(head)),
                    lambda x: x.getField("s"),
                ),
                ",",
            ).alias("top_docs"),
        )
        .orderBy("term")
    )


SQL_TEXT_INVERTED_INDEX = """
WITH tf AS (
  SELECT term, doc_id, count(*) AS tf FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
    FROM documents
  ) GROUP BY 1, 2
), ranked AS (
  SELECT term, doc_id, tf,
         row_number() OVER (PARTITION BY term
                            ORDER BY tf DESC, doc_id ASC) AS rn
  FROM tf
)
SELECT t.term AS term,
       CAST(count(*) AS BIGINT) AS df,
       CAST(sum(t.tf) AS BIGINT) AS total_tf,
       (SELECT string_agg(concat(CAST(r.doc_id AS VARCHAR), ':',
                                 CAST(r.tf AS VARCHAR)), ',' ORDER BY r.rn)
        FROM ranked r WHERE r.rn <= 3 AND r.term = t.term) AS top_docs
FROM tf t
GROUP BY 1
ORDER BY 1
"""


# --------------------------------------------------------------------
# deterministic k-fold cross-validation folds
# --------------------------------------------------------------------

_KFOLD_K = 5


def q_split_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold CV structure: every document lands in
    fold = md5(doc_id) mod 5 (a pure function of the key — stable
    across runs, engines, and re-ingests, like sample_hash_split),
    and each output row describes one fold's TEST slice vs its TRAIN
    complement: doc counts and char volumes on both sides.

    Scale: one map-side fold assignment and a 5-row aggregate; the
    train-side numbers are derived from the broadcast grand total
    minus the fold's own partials — no second scan, no self-join."""
    d = _t(spark, sf_dir, "documents").select(
        F.pmod(
            md5_long(F.col("doc_id").cast("string")),
            F.lit(_KFOLD_K),
        ).cast("int").alias("fold"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )
    per = d.groupBy("fold").agg(
        F.count(F.lit(1)).alias("test_docs"),
        F.sum("n_chars").alias("test_chars"),
    )
    tot = per.agg(
        F.sum("test_docs").alias("all_docs"),
        F.sum("test_chars").alias("all_chars"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "fold",
            F.col("test_docs").cast("bigint").alias("test_docs"),
            F.col("test_chars").cast("bigint").alias("test_chars"),
            (F.col("all_docs") - F.col("test_docs"))
            .cast("bigint")
            .alias("train_docs"),
            (F.col("all_chars") - F.col("test_chars"))
            .cast("bigint")
            .alias("train_chars"),
        )
        .orderBy("fold")
    )


SQL_SPLIT_KFOLD = f"""
WITH d AS (
  SELECT CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % {_KFOLD_K} AS INT) AS fold,
         CAST(n_chars AS BIGINT) AS n_chars
  FROM documents
), per AS (
  SELECT fold, count(*) AS test_docs, sum(n_chars) AS test_chars
  FROM d GROUP BY 1
), tot AS (
  SELECT sum(test_docs) AS all_docs, sum(test_chars) AS all_chars FROM per
)
SELECT fold,
       CAST(test_docs AS BIGINT) AS test_docs,
       CAST(test_chars AS BIGINT) AS test_chars,
       CAST(all_docs - test_docs AS BIGINT) AS train_docs,
       CAST(all_chars - test_chars AS BIGINT) AS train_chars
FROM per, tot
ORDER BY fold
"""


# --------------------------------------------------------------------
# pair-distance histogram (similarity threshold calibration)
# --------------------------------------------------------------------

_PDH_BUCKETS = 64


def q_embed_pair_distance_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine histogram over a DETERMINISTIC sample of embedding
    pairs: vectors land in md5(vec_id) mod 64 buckets, pairs form only
    within a bucket (id_a < id_b), and each pair's cosine falls into a
    twentieth-width bin.  This is the calibration curve behind every
    near-dup threshold choice (SemDeDup, dedup_embedding_cosine): the
    distribution tells you where "near-duplicate" separates from
    "background" — and checking the DISTRIBUTION is exactly the audit
    that caught the df-capped tfidf-cosine underestimate the mirrored
    oracle was blind to.

    Scale: the pair fan-out is (N/B)^2 per bucket; B is a constant 64
    here (fine to ~1e5 vectors), and a deployment sizes B ~ N/k to
    hold the per-bucket group at k vectors — the same knob as every
    blocked self-join in the dedup family.  Norms are computed
    map-side BEFORE the join; zero-norm vectors are excluded on both
    sides (ANSI-safe, no 0/0).

    Parity: dot products and norms are the same left-to-right
    64-term IEEE chains on both engines (the JL-projection pattern);
    the bin edge is floor(cos * 20) on bit-identical doubles.

    r14 batch 7: both 64-term element_at chains are SQL expression
    strings (the truncation-fidelity fix — the Column-API reduce was
    ~500 py4j calls of driver plan construction); identical
    left-associated chains, casts and literals, so every double is
    unchanged."""
    dot_self = " + ".join(
        f"CAST(element_at(embedding, {i + 1}) AS DOUBLE)"
        f" * CAST(element_at(embedding, {i + 1}) AS DOUBLE)"
        for i in range(_JL_IN_DIM)
    )

    # r14: persist the bucketed/normed frame (both self-join sides
    # re-ran the 64-term norm chain) and pin its width on the bucket
    # key: the join keys on 64 buckets, so both sides read the same
    # co-partitioned cache (no exchange) and AQE byte-coalescing
    # cannot serialize the (N/B)^2-pair cosine CPU onto one task.
    v = (
        _t(spark, sf_dir, "embeddings")
        .selectExpr(
            "vec_id",
            "embedding",
            "pmod(CAST(conv(substring(md5(CAST(vec_id AS STRING)),"
            f" 1, 15), 16, 10) AS BIGINT), {_PDH_BUCKETS}) AS bucket",
            f"sqrt({dot_self}) AS nrm",
        )
        .filter(F.col("nrm") > 0)
        .repartition(spark.sparkContext.defaultParallelism, "bucket")
        .persist()
    )
    a = v.alias("a")
    b = v.alias("b")
    dot_ab = " + ".join(
        f"CAST(element_at(a.embedding, {i + 1}) AS DOUBLE)"
        f" * CAST(element_at(b.embedding, {i + 1}) AS DOUBLE)"
        for i in range(_JL_IN_DIM)
    )
    cos = f"(({dot_ab}) / (a.nrm * b.nrm))"
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    per = pairs.selectExpr(
        f"CAST(floor({cos} * 20.0D) AS INT) AS bin"
    ).groupBy("bin").agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    tot = per.agg(F.sum("n_pairs").alias("n_total"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_pairs",
            F.floor(
                F.col("n_pairs").cast("double")
                * F.lit(1000000.0)
                / F.col("n_total")
            ).cast("bigint").alias("share_ppm"),
        )
        .orderBy("bin")
    )


def _pdh_sql() -> str:
    self_chain = " + ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE) * CAST(embedding[{i + 1}] AS DOUBLE)"
        for i in range(_JL_IN_DIM)
    )
    ab_chain = " + ".join(
        f"CAST(a.embedding[{i + 1}] AS DOUBLE) * CAST(b.embedding[{i + 1}] AS DOUBLE)"
        for i in range(_JL_IN_DIM)
    )
    return f"""
WITH v AS (
  SELECT vec_id, embedding,
         CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
              AS BIGINT) % {_PDH_BUCKETS} AS bucket,
         sqrt({self_chain}) AS nrm
  FROM embeddings
), vf AS (SELECT * FROM v WHERE nrm > 0),
per AS (
  SELECT CAST(floor(({ab_chain}) / (a.nrm * b.nrm) * 20.0) AS INT) AS bin,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM vf a JOIN vf b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  GROUP BY 1
), tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS n_total FROM per)
SELECT bin, n_pairs,
       CAST(floor(CAST(n_pairs AS DOUBLE) * 1000000.0 / n_total) AS BIGINT)
         AS share_ppm
FROM per, tot
ORDER BY bin
"""


SQL_EMBED_PAIR_DISTANCE_HIST = _pdh_sql()


QUERIES: dict[str, QuerySpec] = {
    "seq_global_row_number": QuerySpec(
        q_seq_global_row_number, SQL_SEQ_GLOBAL_ROW_NUMBER
    ),
    "events_theilsen_trend": QuerySpec(
        q_events_theilsen_trend, SQL_EVENTS_THEILSEN_TREND
    ),
    "profile_benford": QuerySpec(q_profile_benford, SQL_PROFILE_BENFORD),
    "embed_random_projection": QuerySpec(
        q_embed_random_projection, SQL_EMBED_RANDOM_PROJECTION
    ),
    "agg_incremental_merge": QuerySpec(
        q_agg_incremental_merge, SQL_AGG_INCREMENTAL_MERGE
    ),
    "events_dow_seasonality": QuerySpec(
        q_events_dow_seasonality, SQL_EVENTS_DOW_SEASONALITY
    ),
    "text_keyword_tagging": QuerySpec(
        q_text_keyword_tagging, SQL_TEXT_KEYWORD_TAGGING
    ),
    "embed_pca_variance": QuerySpec(q_embed_pca_variance, None),
    "graph_label_propagation": QuerySpec(
        q_graph_label_propagation, SQL_GRAPH_LABEL_PROPAGATION
    ),
    "graph_community_modularity": QuerySpec(
        q_graph_community_modularity, _modularity_sql()
    ),
    "text_inverted_index": QuerySpec(
        q_text_inverted_index, SQL_TEXT_INVERTED_INDEX
    ),
    "split_kfold": QuerySpec(q_split_kfold, SQL_SPLIT_KFOLD),
    "embed_pair_distance_hist": QuerySpec(
        q_embed_pair_distance_hist, SQL_EMBED_PAIR_DISTANCE_HIST
    ),
}
