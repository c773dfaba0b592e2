"""Round-12 batch 48: eigen-selection evidence for the PCA family.

* ``embed_power_iter_portable`` — the dominant eigenvalue of the
  embedding covariance matrix (and its explained-variance share) via
  a FIXED 96-step power iteration from a deterministic start vector.
  This is the hash-checkable twin of ``embed_pca_variance``'s eigen
  readout (r11 brief #6): the cov-trace twin covers the gram
  pipeline, this one covers the eigenvector *selection* step — the
  part ``numpy.linalg.eigh`` performs — with an algorithm both
  engines can express.  The DuckDB twin runs the identical iteration
  as a recursive CTE over the d^2-row covariance relation.

Engine-parity: the iteration is self-correcting (it converges toward
the dominant eigenvector regardless of per-step rounding), so the
engines' different SUM accumulation orders (numpy pairwise vs DuckDB
sequential) wash out to ~1e-12 relative — far inside the 1e-6 output
grid.  The explained share is computed from the already-snapped grid
values so both engines divide bit-identical doubles.

Reference scope note: the reference engine (scanner.py:120-175) has
no analytics surface; extends SURVEY.md §2.B's UDF/embedding rows.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from . import QuerySpec, load_tuned

_t = load_tuned

_PI_DIM = 64  # embeddings.parquet column width (TESTDATA.md)
_PI_ITERS = 96
_PI_V0 = 0.125  # 1/sqrt(64), exact in binary on both engines


def q_embed_power_iter_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top covariance eigenvalue by 96 power-iteration steps.

    Scale shape: the full d x d gram matrix is reduced exactly like
    embed_cov_trace_portable (warehouse29) — Arrow map-side partials,
    one 32-bucket merge, then a BOUNDED <= 32-row collect of d^2-sized
    partials (O(dim^2), not O(rows)) — and the iteration itself is
    O(iters * d^2) driver-side arithmetic on the 64x64 matrix.  At any
    corpus size the distributed work is one pass over the vectors.
    """
    d = _PI_DIM
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
                {"g": [G.reshape(-1).tolist()], "s": [s.tolist()], "n": [n]}
            )

    partial_schema = "g array<double>, s array<double>, n long"

    def gram_merge(pdf: pd.DataFrame) -> pd.DataFrame:
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
    G = np.zeros((d, d))
    s = np.zeros(d)
    n = 0
    for row in parts:
        G += np.asarray(row["g"], dtype=np.float64).reshape(d, d)
        s += np.asarray(row["s"], dtype=np.float64)
        n += int(row["n"])
    mean = s / n
    # same formula as the twin's avg(xi*xj) - avg(xi)*avg(xj)
    C = G / n - np.outer(mean, mean)

    v = np.full(d, _PI_V0)
    for _ in range(_PI_ITERS):
        w = C @ v
        v = w / math.sqrt(float(w @ w))
    lam = float(v @ (C @ v))
    trace = float(C.diagonal().sum())

    eig_g = math.floor(lam * 1e6 + 0.5) / 1e6
    tr_g = math.floor(trace * 1e6 + 0.5) / 1e6
    # ratio of the SNAPPED values: both engines divide identical doubles
    explained_ppm = math.floor(eig_g / tr_g * 1e6 + 0.5)
    return spark.createDataFrame(
        [(eig_g, tr_g, explained_ppm)],
        "top_eig double, cov_trace double, explained_ppm long",
    )


SQL_EMBED_POWER_ITER_PORTABLE = f"""
WITH RECURSIVE el AS (
  SELECT vec_id,
         unnest(range(1, {_PI_DIM + 1})) AS i,
         unnest(embedding::DOUBLE[]) AS x
  FROM embeddings
),
cov AS (
  SELECT a.i AS i, b.i AS j,
         sum(a.x * b.x) / count(*)
           - (sum(a.x) / count(*)) * (sum(b.x) / count(*)) AS c
  FROM el a JOIN el b USING (vec_id)
  GROUP BY 1, 2
),
pit(t, vec) AS (
  -- CAST: a bare {_PI_V0!r} literal is DECIMAL(4,3) and the recursive
  -- union would quantize EVERY iterate to 3 decimals (PARITY trap)
  SELECT 0, list_transform(range({_PI_DIM}),
                           x -> CAST({_PI_V0!r} AS DOUBLE))
  UNION ALL
  SELECT t + 1,
         (WITH w AS (
            SELECT c.i AS i, sum(c.c * vec[c.j]) AS wi
            FROM cov c GROUP BY c.i)
          SELECT list(wi / sqrt((SELECT sum(wi * wi) FROM w)) ORDER BY i)
          FROM w)
  FROM pit WHERE t < {_PI_ITERS}
),
fin AS (SELECT vec FROM pit WHERE t = {_PI_ITERS}),
lam AS (
  SELECT sum(c.c * f.vec[c.i] * f.vec[c.j]) AS l FROM cov c, fin f
),
tr AS (SELECT sum(c) AS tv FROM cov WHERE i = j)
SELECT floor(l * 1e6 + 0.5) / 1e6 AS top_eig,
       floor(tv * 1e6 + 0.5) / 1e6 AS cov_trace,
       CAST(floor((floor(l * 1e6 + 0.5) / 1e6)
                  / (floor(tv * 1e6 + 0.5) / 1e6) * 1e6 + 0.5) AS BIGINT)
           AS explained_ppm
FROM lam, tr
"""


# --------------------------------------------------------------------
# Kendall tau-b trend association
# --------------------------------------------------------------------

_US_PER_DAY = 86_400_000_000


def q_stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between daily event volume and daily value sum,
    per event type — the rank-association statistic that, unlike
    Spearman (warehouse25), is built from PAIRWISE concordance counts
    and carries the textbook tie correction: tau_b = (C - D) /
    sqrt((n0 - n1) (n0 - n2)) with n0 = n(n-1)/2 and n1/n2 the tied
    x/y pair counts.

    Parity: C, D, n1, n2 are exact integers off one self-join; the
    only float ops are the two subtractions, one product of explicit
    DOUBLE casts, one sqrt, one division — written identically on
    both engines.  Degenerate (all-tied) groups yield NULL on both.

    Scale: the self-join is per-(event_type, day-pair) — bounded by
    the CALENDAR (days² per type, not rows²); the daily rollup before
    it is an ordinary partial-agg groupBy, so corpus growth only
    fattens the rollup, never the pair count."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_micros(F.col("ts")) / _US_PER_DAY).alias("day"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    # y rides the decimal rail: a day's cent sum is unbounded and a
    # LONG F.sum wraps silently (non-ANSI) where the DuckDB twin
    # promotes (ADVICE r12); only y's ORDER is consumed downstream,
    # and decimal compares exactly at any reachable magnitude
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("y"),
    )
    a = daily.select(
        "event_type",
        F.col("day").alias("da"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
    )
    b = daily.select(
        "event_type",
        F.col("day").alias("db"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )
    pairs = a.join(b, "event_type").filter(F.col("da") < F.col("db"))
    # sign COMPARISONS, not the raw (xa-xb)*(ya-yb) product: y values
    # are unbounded cent sums, so the product can overflow BIGINT at
    # extreme daily gaps even though only its sign is needed (review
    # r12); the boolean forms are overflow-free and engine-identical
    conc = ((F.col("xa") < F.col("xb")) & (F.col("ya") < F.col("yb"))) | (
        (F.col("xa") > F.col("xb")) & (F.col("ya") > F.col("yb"))
    )
    disc = ((F.col("xa") < F.col("xb")) & (F.col("ya") > F.col("yb"))) | (
        (F.col("xa") > F.col("xb")) & (F.col("ya") < F.col("yb"))
    )
    agg = pairs.groupBy("event_type").agg(
        F.sum(F.when(conc, 1).otherwise(0)).alias("c"),
        F.sum(F.when(disc, 1).otherwise(0)).alias("d"),
        F.sum(F.when(F.col("xa") == F.col("xb"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("ya") == F.col("yb"), 1).otherwise(0)).alias("n2"),
        F.count(F.lit(1)).alias("n0"),
    )
    nn = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    dx = (F.col("n0") - F.col("n1")).cast("double")
    dy = (F.col("n0") - F.col("n2")).cast("double")
    tau = F.when(
        (dx > 0) & (dy > 0),
        (F.col("c") - F.col("d")).cast("double") / F.sqrt(dx * dy),
    )
    return (
        agg.join(nn, "event_type")
        .select(
            "event_type",
            "n_days",
            F.col("c").cast("long").alias("concordant"),
            F.col("d").cast("long").alias("discordant"),
            F.floor(tau * 1000.0 + 0.5).cast("long").alias("tau_milli"),
        )
        .orderBy("event_type")
    )


SQL_STATS_KENDALL_TAU = """
WITH daily AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         count(*) AS x,
         sum(CAST(floor(value * 100 + 0.5) AS HUGEINT)) AS y
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type,
         sum(CASE WHEN (a.x < b.x AND a.y < b.y)
                    OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END) AS c,
         sum(CASE WHEN (a.x < b.x AND a.y > b.y)
                    OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END) AS d,
         sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS n1,
         sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS n2,
         count(*) AS n0
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
  GROUP BY 1
),
nn AS (SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1)
SELECT p.event_type, CAST(n.n_days AS BIGINT) AS n_days,
       CAST(p.c AS BIGINT) AS concordant,
       CAST(p.d AS BIGINT) AS discordant,
       CAST(floor(
         CASE WHEN CAST(p.n0 - p.n1 AS DOUBLE) > 0
               AND CAST(p.n0 - p.n2 AS DOUBLE) > 0
              THEN CAST(p.c - p.d AS DOUBLE)
                   / sqrt(CAST(p.n0 - p.n1 AS DOUBLE)
                          * CAST(p.n0 - p.n2 AS DOUBLE))
         END * 1000.0 + 0.5) AS BIGINT) AS tau_milli
FROM pairs p JOIN nn n USING (event_type)
ORDER BY event_type
"""


# --------------------------------------------------------------------
# event lateness profile
# --------------------------------------------------------------------

_US_PER_HOUR = 3_600_000_000


_NET_JITTER_US = 2 * _US_PER_HOUR  # simulated delivery delay ceiling
_TEN_MIN_US = 600_000_000


def q_events_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-sizing simulation: each event's ARRIVAL time is its
    event time plus a deterministic md5-derived network delay
    (0..2 h, replayable on both engines), and its lateness is the gap
    to the per-user running-maximum event time at its arrival — the
    exact quantity a streaming ``withWatermark()`` bound must cover.
    Histogram over 10-minute lateness buckets with event shares in
    ppm (integer DIV over exact counts).  The raw stream arrives
    in-order (event_id follows ts — verified on the generator), so
    the injected-delay replay IS the out-of-orderness to measure.

    Scale: one per-user window (bounded partitions — a user's arrival
    history), one small groupBy; this is the batch query you run to
    choose the streaming pipeline's watermark."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    delay = (
        md5_long(F.concat(F.col("event_id").cast("string"), F.lit("|net42")))
        % F.lit(_NET_JITTER_US)
    )
    arr = ev.withColumn("arr_us", F.col("us") + delay)
    w = (
        Window.partitionBy("user_id")
        .orderBy("arr_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = arr.select((F.max("us").over(w) - F.col("us")).alias("late_us"))
    hist = late.groupBy(
        F.floor(F.col("late_us") / _TEN_MIN_US).cast("long").alias(
            "late_10min"
        )
    ).agg(F.count(F.lit(1)).alias("n_events"))
    total = hist.agg(F.sum("n_events").alias("n_total"))
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            "late_10min",
            "n_events",
            F.expr(
                "CAST(n_events AS decimal(19,0)) * 1000000 DIV n_total"
            ).cast("long").alias("share_ppm"),
        )
        .orderBy("late_10min")
    )


SQL_EVENTS_LATENESS_PROFILE = f"""
WITH arr AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         epoch_us(ts)
           + CAST(concat('0x', substr(md5(event_id || '|net42'), 1, 15))
                  AS BIGINT) % {_NET_JITTER_US} AS arr_us
  FROM events
),
late AS (
  SELECT max(us) OVER (
           PARTITION BY user_id ORDER BY arr_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - us AS late_us
  FROM arr
),
hist AS (
  SELECT late_us // {_TEN_MIN_US} AS late_10min, count(*) AS n_events
  FROM late GROUP BY 1
),
total AS (SELECT sum(n_events) AS n_total FROM hist)
SELECT CAST(late_10min AS BIGINT) AS late_10min,
       CAST(n_events AS BIGINT) AS n_events,
       CAST((CAST(n_events AS HUGEINT) * 1000000) // n_total AS BIGINT)
           AS share_ppm
FROM hist CROSS JOIN total
ORDER BY late_10min
"""


# --------------------------------------------------------------------
# cume_dist window readout
# --------------------------------------------------------------------


def q_window_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist over the daily event-count distribution per type —
    the missing member of the repo's ranking-window family
    (percent_rank, ntile, rank already covered): the share of days
    with volume <= this day's, ties sharing the highest position on
    both engines by definition.

    Scale: daily rollup then a per-type window over calendar-bounded
    partitions."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_micros(F.col("ts")) / _US_PER_DAY).alias("day"),
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.partitionBy("event_type").orderBy("n_events")
    return daily.select(
        "event_type",
        "day",
        "n_events",
        F.floor(F.cume_dist().over(w) * 1e6 + 0.5).cast("long").alias(
            "cume_ppm"
        ),
    ).orderBy("event_type", "day")


SQL_WINDOW_CUME_DIST = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT event_type, CAST(day AS BIGINT) AS day,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(floor(cume_dist() OVER (
           PARTITION BY event_type ORDER BY n_events
         ) * 1e6 + 0.5) AS BIGINT) AS cume_ppm
FROM daily
ORDER BY event_type, day
"""


# --------------------------------------------------------------------
# dedup threshold sensitivity sweep
# --------------------------------------------------------------------

_SWEEP_THRESHOLDS_MILLI = (300, 400, 500, 600, 700, 800, 900)


def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-threshold sensitivity curve for the blocked n-gram
    near-dup: for each candidate threshold, how many pairs and how
    many distinct documents a dedup pass at that threshold would
    touch — the tuning table you read BEFORE committing a corpus to a
    cutoff (too low over-deletes, too high leaves twins).

    Comparisons run on the integer tenk grid (floor(round(j,4)*1e4
    + 0.5)) so both engines bucket identically.  Scale: reuses the
    session-shared shingle frames (one tokenization per corpus); the
    sweep itself is a 7-literal explode over the bounded candidate
    pair frame."""
    from ..operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        group_cols=["lang", "source"],
        shingle_k=3,
        threshold=0.0001,
        max_shingle_df=50,
    ).select(
        "id_a",
        "id_b",
        F.floor(F.col("jaccard") * 10000 + 0.5).cast("long").alias("jac_tenk"),
    ).filter(F.col("jac_tenk") >= 1)
    th = F.explode(
        F.array(*[F.lit(t) for t in _SWEEP_THRESHOLDS_MILLI])
    ).alias("threshold_milli")
    surv = pairs.select(th, "id_a", "id_b", "jac_tenk").filter(
        F.col("jac_tenk") >= F.col("threshold_milli") * 10
    )
    # ONE aggregation over ONE explode: each id_a < id_b pair
    # contributes exactly 2 doc rows, so n_pairs = count/2 and the
    # distinct-doc count share the same subtree — the two-branch
    # shape re-ran the whole un-persisted pair pipeline twice
    # (review r12)
    ends = surv.select(
        "threshold_milli", F.explode(F.array("id_a", "id_b")).alias("d")
    )
    return (
        ends.groupBy("threshold_milli")
        .agg(
            F.expr("count(1) DIV 2").cast("long").alias("n_pairs"),
            F.count_distinct("d").alias("n_docs"),
        )
        .orderBy("threshold_milli")
    )


def _sweep_sql() -> str:
    # deferred import: llm.py imports build on this package's __init__
    from .llm import SQL_BLOCKED_SHINGLES_CTES, SQL_SHINGLE_COMMON_CTE

    return _SQL_DEDUP_THRESHOLD_SWEEP_TMPL.format(
        shingles=SQL_BLOCKED_SHINGLES_CTES, common=SQL_SHINGLE_COMMON_CTE
    )


_SQL_DEDUP_THRESHOLD_SWEEP_TMPL = f"""
WITH {{shingles}},
{{common}},
jac AS (
  SELECT id_a, id_b,
         CAST(floor(round(n_common * 1.0 /
                          (ca.n_sh + cb.n_sh - n_common), 4) * 10000 + 0.5)
              AS BIGINT) AS jac_tenk
  FROM common
  JOIN counts ca ON ca.doc_id = id_a
  JOIN counts cb ON cb.doc_id = id_b
),
surv AS (
  SELECT t.threshold_milli, j.id_a, j.id_b
  FROM (SELECT unnest([{", ".join(str(t) for t in _SWEEP_THRESHOLDS_MILLI)}])
               AS threshold_milli) t
  JOIN jac j ON j.jac_tenk >= t.threshold_milli * 10 AND j.jac_tenk >= 1
),
ends AS (SELECT threshold_milli, unnest([id_a, id_b]) AS d FROM surv)
SELECT CAST(threshold_milli AS BIGINT) AS threshold_milli,
       CAST(count(*) // 2 AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT d) AS BIGINT) AS n_docs
FROM ends
GROUP BY threshold_milli
ORDER BY threshold_milli
"""


# --------------------------------------------------------------------
# dedup quality-shift diagnostic
# --------------------------------------------------------------------


def q_dedup_quality_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What exact dedup does to the corpus composition, per source:
    document counts and mean length (milli-chars, integer DIV) before
    vs after keep-min-id dedup on the normalized-text fingerprint,
    plus the removed share in ppm.  The bias report every dedup run
    should ship — duplicates concentrate in specific sources and
    lengths, so dedup silently SHIFTS the distribution.

    Scale: one fingerprint window (partitioned by the 128-bit hash,
    dup groups are tiny) and two partial-agg rollups."""
    from ..operators.text import normalize

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", F.md5(normalize(F.col("text"))).alias("fp")
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    flagged = d.withColumn("rn", F.row_number().over(w))
    allside = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum("n_chars").alias("chars_all"),
    )
    surv = (
        flagged.filter(F.col("rn") == 1)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_surv"),
            F.sum("n_chars").alias("chars_surv"),
        )
    )
    return (
        allside.join(surv, "source")
        .select(
            "source",
            "n_all",
            "n_surv",
            F.expr(
                "CAST(chars_all AS decimal(19,0)) * 1000 DIV n_all"
            ).cast("long").alias("mean_chars_all_milli"),
            F.expr(
                "CAST(chars_surv AS decimal(19,0)) * 1000 DIV n_surv"
            ).cast("long").alias("mean_chars_surv_milli"),
            F.expr(
                "CAST((n_all - n_surv) AS decimal(19,0)) * 1000000 DIV n_all"
            ).cast("long").alias("removed_ppm"),
        )
        .orderBy("source")
    )


SQL_DEDUP_QUALITY_SHIFT = """
WITH d AS (
  SELECT doc_id, source, n_chars,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
),
flagged AS (
  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM d
),
a AS (SELECT source, count(*) AS n_all, sum(n_chars) AS chars_all
      FROM flagged GROUP BY 1),
s AS (SELECT source, count(*) AS n_surv, sum(n_chars) AS chars_surv
      FROM flagged WHERE rn = 1 GROUP BY 1)
SELECT source,
       CAST(n_all AS BIGINT) AS n_all,
       CAST(n_surv AS BIGINT) AS n_surv,
       CAST((CAST(chars_all AS HUGEINT) * 1000) // n_all AS BIGINT)
           AS mean_chars_all_milli,
       CAST((CAST(chars_surv AS HUGEINT) * 1000) // n_surv AS BIGINT)
           AS mean_chars_surv_milli,
       CAST((CAST(n_all - n_surv AS HUGEINT) * 1000000) // n_all AS BIGINT)
           AS removed_ppm
FROM a JOIN s USING (source)
ORDER BY source
"""


# --------------------------------------------------------------------
# OCR-garbage text score
# --------------------------------------------------------------------


def q_text_garbage_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OCR/mojibake garbage signals: the share of
    characters outside [a-z0-9 space] (after lowercasing), the digit
    share, the longest consonant run, and a combined garbage flag
    (symbol share > 20% OR consonant run > 7 — the classic
    scanned-PDF noise fingerprints).  Shares in ppm via integer DIV
    over exact character counts.

    Scale: pure map-side string expressions — no shuffle at all
    except the final order."""
    d = _t(spark, sf_dir, "documents")
    lo = F.lower(F.col("text"))
    n = F.length(lo)
    n_sym = n - F.length(F.regexp_replace(lo, "[^a-z0-9 ]", ""))
    n_dig = n - F.length(F.regexp_replace(lo, "[0-9]", ""))
    runs = F.transform(
        F.regexp_extract_all(lo, F.lit("[bcdfghjklmnpqrstvwxyz]+"), 0),
        lambda x: F.length(x),
    )
    max_run = F.coalesce(F.array_max(runs), F.lit(0)).cast("long")
    # one staged select so the DIVs see named attributes
    staged = d.select(
        "doc_id",
        n.cast("long").alias("len"),
        n_sym.cast("long").alias("sym"),
        n_dig.cast("long").alias("dig"),
        max_run.alias("max_consonant_run"),
    )
    return staged.select(
        "doc_id",
        F.col("len").alias("n_chars_raw"),
        F.when(
            F.col("len") > 0,
            F.expr("CAST(sym AS decimal(19,0)) * 1000000 DIV len"),
        ).cast("long").alias("symbol_ppm"),
        F.when(
            F.col("len") > 0,
            F.expr("CAST(dig AS decimal(19,0)) * 1000000 DIV len"),
        ).cast("long").alias("digit_ppm"),
        "max_consonant_run",
        (
            (
                F.when(
                    F.col("len") > 0,
                    F.expr("CAST(sym AS decimal(19,0)) * 1000000 DIV len"),
                ).cast("long")
                > 200000
            )
            | (F.col("max_consonant_run") > 7)
        ).alias("is_garbage"),
    ).orderBy("doc_id")


SQL_TEXT_GARBAGE_SCORE = """
WITH staged AS (
  SELECT doc_id,
         length(lower(text)) AS len,
         length(lower(text))
           - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))
           AS sym,
         length(lower(text))
           - length(regexp_replace(lower(text), '[0-9]', '', 'g')) AS dig,
         coalesce(list_max(list_transform(
           regexp_extract_all(lower(text), '[bcdfghjklmnpqrstvwxyz]+'),
           x -> length(x))), 0) AS max_consonant_run
  FROM documents
)
SELECT doc_id,
       CAST(len AS BIGINT) AS n_chars_raw,
       CAST(CASE WHEN len > 0
            THEN (CAST(sym AS HUGEINT) * 1000000) // len END AS BIGINT)
           AS symbol_ppm,
       CAST(CASE WHEN len > 0
            THEN (CAST(dig AS HUGEINT) * 1000000) // len END AS BIGINT)
           AS digit_ppm,
       CAST(max_consonant_run AS BIGINT) AS max_consonant_run,
       (CASE WHEN len > 0
             THEN (CAST(sym AS HUGEINT) * 1000000) // len END > 200000
        OR max_consonant_run > 7) AS is_garbage
FROM staged
ORDER BY doc_id
"""


# --------------------------------------------------------------------
# seeded permutation (randomization) test
# --------------------------------------------------------------------

_PERM_B = 200  # permutation draws; bounded literal on both engines


def q_stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization test for the value metric between the md5
    hash-split experiment arms: the observed |mean difference| is
    compared against 200 deterministic re-randomizations.  The
    re-randomization unit matches the ASSIGNMENT unit (r12 advice):
    the observed split hashes user_id, so each draw b reassigns WHOLE
    USERS via md5(user_id|b|perm42) % 2 — permuting per event would
    ignore within-user correlation and make the p-value
    anti-conservative.  Replayable bit-for-bit on both engines;
    p = (1 + #extreme) / (B + 1) in ppm.  The distribution-free
    alternative to the Welch t (agg_ttest_welch) that needs no
    normality and no variance formula — every per-draw mean folds
    from exact integer cents.

    Scale: because the draw arm is constant per (user, b), events are
    pre-aggregated to ONE row per user before the B-fold explode —
    the expansion is |users| x B, not |events| x B, and the (b, arm)
    partial agg reduces it to 2B rows; B is a constant, so the plan
    is one events pass + B x one bounded aggregate regardless of
    corpus size."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    arm = (
        md5_long(F.concat(F.col("user_id").cast("string"), F.lit("|perm42")))
        % 2
    )
    obs = (
        ev.select(arm.alias("g"), "cents")
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # decimal rail: an arm's cent sum is unbounded at corpus
            # scale (non-ANSI LONG sum would wrap silently while the
            # twin's HUGEINT promotes — the kendall/cochran class)
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
        )
        .agg(
            F.max(F.when(F.col("g") == 0, F.col("n"))).alias("n_a"),
            F.max(F.when(F.col("g") == 0, F.col("s"))).alias("s_a"),
            F.max(F.when(F.col("g") == 1, F.col("n"))).alias("n_b"),
            F.max(F.when(F.col("g") == 1, F.col("s"))).alias("s_b"),
        )
        .select(
            "n_a",
            "n_b",
            F.abs(
                F.col("s_a").cast("double") / F.col("n_a").cast("double")
                - F.col("s_b").cast("double") / F.col("n_b").cast("double")
            ).alias("obs_diff"),
        )
    )
    perm_arm = (
        md5_long(F.concat(F.col("user_id").cast("string"), F.lit("|"), F.col("b").cast("string"), F.lit("|perm42")))
        % 2
    )
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_u"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s_u"),
    )
    draws = (
        per_user.select(
            "user_id",
            "n_u",
            "s_u",
            F.explode(F.sequence(F.lit(1), F.lit(_PERM_B))).alias("b"),
        )
        .select("b", perm_arm.alias("g"), "n_u", "s_u")
        .groupBy("b", "g")
        .agg(F.sum("n_u").alias("n"), F.sum("s_u").alias("s"))
        .groupBy("b")
        .agg(
            F.max(F.when(F.col("g") == 0, F.col("n"))).alias("n0"),
            F.max(F.when(F.col("g") == 0, F.col("s"))).alias("s0"),
            F.max(F.when(F.col("g") == 1, F.col("n"))).alias("n1"),
            F.max(F.when(F.col("g") == 1, F.col("s"))).alias("s1"),
        )
        .select(
            F.abs(
                F.col("s0").cast("double") / F.col("n0").cast("double")
                - F.col("s1").cast("double") / F.col("n1").cast("double")
            ).alias("diff")
        )
    )
    extreme = draws.crossJoin(F.broadcast(obs)).agg(
        F.sum(
            F.when(F.col("diff") >= F.col("obs_diff"), 1).otherwise(0)
        ).alias("n_extreme")
    )
    return (
        obs.crossJoin(F.broadcast(extreme))
        .select(
            "n_a",
            "n_b",
            F.floor(F.col("obs_diff") * 1000.0 + 0.5).cast("long").alias(
                "obs_diff_milli"
            ),
            F.col("n_extreme").cast("long").alias("n_extreme"),
            F.floor(
                (F.col("n_extreme") + 1).cast("double")
                / F.lit(float(_PERM_B + 1))
                * 1e6
                + 0.5
            ).cast("long").alias("p_ppm"),
        )
    )


SQL_STATS_PERMUTATION_TEST = f"""
WITH ev AS (
  SELECT event_id, user_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
obs_g AS (
  SELECT CAST(concat('0x', substr(md5(user_id || '|perm42'), 1, 15))
              AS BIGINT) % 2 AS g,
         count(*) AS n, sum(cents) AS s
  FROM ev GROUP BY 1
),
obs AS (
  SELECT max(CASE WHEN g = 0 THEN n END) AS n_a,
         max(CASE WHEN g = 0 THEN s END) AS s_a,
         max(CASE WHEN g = 1 THEN n END) AS n_b,
         max(CASE WHEN g = 1 THEN s END) AS s_b
  FROM obs_g
),
obs_d AS (
  SELECT n_a, n_b,
         abs(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) AS obs_diff
  FROM obs
),
per_user AS (
  SELECT user_id, count(*) AS n_u, sum(cents) AS s_u
  FROM ev GROUP BY 1
),
draws_g AS (
  SELECT b.b,
         CAST(concat('0x', substr(md5(u.user_id || '|' || b.b
                                      || '|perm42'), 1, 15))
              AS BIGINT) % 2 AS g,
         sum(n_u) AS n, sum(s_u) AS s
  FROM per_user u, (SELECT unnest(range(1, {_PERM_B + 1})) AS b) b
  GROUP BY 1, 2
),
draws AS (
  SELECT b,
         abs(CAST(max(CASE WHEN g = 0 THEN s END) AS DOUBLE)
               / CAST(max(CASE WHEN g = 0 THEN n END) AS DOUBLE)
             - CAST(max(CASE WHEN g = 1 THEN s END) AS DOUBLE)
               / CAST(max(CASE WHEN g = 1 THEN n END) AS DOUBLE)) AS diff
  FROM draws_g GROUP BY b
),
extreme AS (
  SELECT sum(CASE WHEN d.diff >= o.obs_diff THEN 1 ELSE 0 END) AS n_extreme
  FROM draws d, obs_d o
)
SELECT CAST(o.n_a AS BIGINT) AS n_a,
       CAST(o.n_b AS BIGINT) AS n_b,
       CAST(floor(o.obs_diff * 1000.0 + 0.5) AS BIGINT) AS obs_diff_milli,
       CAST(e.n_extreme AS BIGINT) AS n_extreme,
       CAST(floor(CAST(e.n_extreme + 1 AS DOUBLE)
                  / CAST({_PERM_B + 1} AS DOUBLE) * 1e6 + 0.5)
            AS BIGINT) AS p_ppm
FROM obs_d o, extreme e
"""


# --------------------------------------------------------------------
# consecutive-order part affinity
# --------------------------------------------------------------------

_AFFINITY_MAX_PARTS = 64  # sorted-prefix cap per order (see warehouse30)


def q_orders_next_order_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENTIAL market-basket association: which part follows which
    across a customer's consecutive orders (directional, unlike the
    within-order orders_basket_lift) — the repeat-purchase affinity a
    recommender reads.  For every consecutive order pair of a
    customer, emit (part in earlier basket) -> (part in later basket);
    keep pairs seen >= 2 times with confidence = n_pair / n_prev in
    ppm, where n_prev counts transitions whose earlier basket held the
    part.

    Scale: baskets carry the 64-part sorted-prefix
    cap (warehouse30's rail — never binds at the registry shape), so
    each transition emits <= cap^2 pairs map-side off ONE lag window
    per customer; everything downstream is partial-agg rollups."""
    # no .distinct() pre-pass: collect_set dedups inside the ONE
    # basket aggregation, saving a full extra shuffle of the fact
    # table (the twin's DISTINCT CTE is semantically identical)
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.slice(
            F.array_sort(F.collect_set("l_partkey")), 1, _AFFINITY_MAX_PARTS
        ).alias("parts")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    # r14: width-pinned hash(custkey) exchange replacing the window's
    # ENSURE_REQUIREMENTS one (same rows moved once) — the lag window
    # feeds the <= cap^2 pair explode + partial aggregate map-side,
    # CPU-dense per row, and AQE byte-coalescing ran it near-serial.
    seq = (
        o.join(baskets, o.o_orderkey == baskets.l_orderkey)
        .select("o_custkey", "o_orderdate", "o_orderkey", "parts")
        .repartition(
            spark.sparkContext.defaultParallelism, "o_custkey"
        )
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    trans = seq.select(
        F.lag("parts").over(w).alias("prev"), F.col("parts").alias("nxt")
    ).filter(F.col("prev").isNotNull())
    # two-step explode (rows, then the carried list) — identical shape
    # in the twin, so no engine-specific cross-unnest semantics.  A
    # sentinel -1 (partkeys are positive) rides along in nxt so ONE
    # (p, q) rollup yields BOTH outputs: n_pair for real q, and
    # n_prev(p) = the sentinel's count (= step1 rows holding p).
    # Before this, n_prev and pair_n were separate aggregations whose
    # chains differed below the window exchange (different column
    # pruning), so Spark re-ran the whole basket + lag-window build
    # per consumer — the r12 16x probe's 6.6x.  The rollup is
    # persisted: it is the post-aggregation pair frame, orders of
    # magnitude smaller than the exploded stream.
    step1 = trans.select(F.explode("prev").alias("part_prev"), "nxt")
    pairs = step1.select(
        "part_prev",
        F.explode(
            F.concat(F.col("nxt"), F.array(F.lit(-1)))
        ).alias("part_next"),
    )
    pair_full = (
        pairs.groupBy("part_prev", "part_next").agg(
            F.count(F.lit(1)).alias("n_pair")
        )
        .persist()
    )
    n_prev = pair_full.filter(F.col("part_next") == -1).select(
        "part_prev", F.col("n_pair").alias("n_prev")
    )
    pair_n = pair_full.filter(
        (F.col("part_next") != -1) & (F.col("n_pair") >= 2)
    )
    return (
        pair_n.join(n_prev, "part_prev")
        .select(
            "part_prev",
            "part_next",
            "n_pair",
            "n_prev",
            F.expr(
                "CAST(n_pair AS decimal(19,0)) * 1000000 DIV n_prev"
            ).cast("long").alias("conf_ppm"),
        )
        .orderBy("part_prev", "part_next")
    )


SQL_ORDERS_NEXT_ORDER_AFFINITY = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
baskets AS (
  SELECT l_orderkey,
         list_slice(list_sort(list(l_partkey)), 1,
                    {_AFFINITY_MAX_PARTS}) AS parts
  FROM li GROUP BY 1
),
seq AS (
  SELECT o.o_custkey, o.o_orderdate, o.o_orderkey, b.parts
  FROM orders o JOIN baskets b ON o.o_orderkey = b.l_orderkey
),
trans AS (
  SELECT lag(parts) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ) AS prev,
         parts AS nxt
  FROM seq
),
step1 AS (
  SELECT unnest(prev) AS part_prev, nxt FROM trans WHERE prev IS NOT NULL
),
pairs AS (SELECT part_prev, unnest(nxt) AS part_next FROM step1),
n_prev AS (SELECT part_prev, count(*) AS n_prev FROM step1 GROUP BY 1),
pair_n AS (
  SELECT part_prev, part_next, count(*) AS n_pair
  FROM pairs GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT p.part_prev, p.part_next,
       CAST(p.n_pair AS BIGINT) AS n_pair,
       CAST(n.n_prev AS BIGINT) AS n_prev,
       CAST((CAST(p.n_pair AS HUGEINT) * 1000000) // n.n_prev AS BIGINT)
           AS conf_ppm
FROM pair_n p JOIN n_prev n USING (part_prev)
ORDER BY part_prev, part_next
"""


# --------------------------------------------------------------------
# clipped self-normalized importance sampling
# --------------------------------------------------------------------

_SNIS_CLIP = 5.0


def q_sample_snis_clipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-normalized importance-sampling estimate of the mean
    document length under a UNIFORM-over-sources target mix, with the
    standard weight clip at 5.0 (variance control): w_s =
    min(N / (k * n_s), clip), estimate = sum_s w_s S_s / sum_s w_s n_s
    — the reweighting diagnostic a data-mixing pipeline reads before
    resampling.  Also reports the effective sample size (Kish) in
    ppm of N: ESS = (sum w)^2 / sum(w^2 per doc) = (sum_s w_s n_s)^2 /
    sum_s w_s^2 n_s.

    Parity: per-source sums are exact integers; the cross-source
    combines are LEFT FOLDS over the source-sorted weight arrays
    (F.aggregate / list_reduce), so both engines add the same doubles
    in the same order — no unordered float aggregation anywhere.
    Scale: one groupBy over sources, then O(#sources) driver-free
    arithmetic in a single row."""
    d = _t(spark, sf_dir, "documents").select("source", "n_chars")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_s"), F.sum("n_chars").alias("chars_s")
    )
    tot = per.agg(
        F.sum("n_s").alias("n_total"), F.count(F.lit(1)).alias("k")
    )
    terms = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_s",
        "chars_s",
        "n_total",
        "k",
        F.least(
            F.col("n_total").cast("double")
            / (F.col("k").cast("double") * F.col("n_s").cast("double")),
            F.lit(_SNIS_CLIP),
        ).alias("w"),
    )
    rows = terms.select(
        "n_total",
        "source",
        (F.col("w") * F.col("chars_s").cast("double")).alias("ws"),
        (F.col("w") * F.col("n_s").cast("double")).alias("wn"),
        (F.col("w") * F.col("w") * F.col("n_s").cast("double")).alias("wwn"),
    )
    folded = rows.groupBy("n_total").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "ws"))),
            F.lit(0.0),
            lambda acc, x: acc + x["ws"],
        ).alias("sum_ws"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "wn"))),
            F.lit(0.0),
            lambda acc, x: acc + x["wn"],
        ).alias("sum_wn"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "wwn"))),
            F.lit(0.0),
            lambda acc, x: acc + x["wwn"],
        ).alias("sum_wwn"),
    )
    return folded.select(
        F.col("n_total").cast("long").alias("n_docs"),
        F.floor(
            F.col("sum_ws") / F.col("sum_wn") * 1000.0 + 0.5
        ).cast("long").alias("snis_mean_chars_milli"),
        F.floor(
            F.col("sum_wn") * F.col("sum_wn") / F.col("sum_wwn")
            / F.col("n_total").cast("double")
            * 1e6
            + 0.5
        ).cast("long").alias("ess_ppm"),
    )


SQL_SAMPLE_SNIS_CLIPPED = f"""
WITH per AS (
  SELECT source, count(*) AS n_s, sum(n_chars) AS chars_s
  FROM documents GROUP BY 1
),
tot AS (SELECT sum(n_s) AS n_total, count(*) AS k FROM per),
terms AS (
  SELECT per.source, per.n_s, per.chars_s, tot.n_total,
         least(CAST(tot.n_total AS DOUBLE)
               / (CAST(tot.k AS DOUBLE) * CAST(per.n_s AS DOUBLE)),
               CAST({_SNIS_CLIP!r} AS DOUBLE)) AS w
  FROM per, tot
),
folded AS (
  SELECT any_value(n_total) AS n_total,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(w * CAST(chars_s AS DOUBLE) ORDER BY source)),
           (x, y) -> x + y) AS sum_ws,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(w * CAST(n_s AS DOUBLE) ORDER BY source)),
           (x, y) -> x + y) AS sum_wn,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(w * w * CAST(n_s AS DOUBLE) ORDER BY source)),
           (x, y) -> x + y) AS sum_wwn
  FROM terms
)
SELECT CAST(n_total AS BIGINT) AS n_docs,
       CAST(floor(sum_ws / sum_wn * 1000.0 + 0.5) AS BIGINT)
           AS snis_mean_chars_milli,
       CAST(floor(sum_wn * sum_wn / sum_wwn / CAST(n_total AS DOUBLE)
                  * 1e6 + 0.5) AS BIGINT) AS ess_ppm
FROM folded
"""


QUERIES: dict[str, QuerySpec] = {
    "embed_power_iter_portable": QuerySpec(
        q_embed_power_iter_portable, SQL_EMBED_POWER_ITER_PORTABLE
    ),
    "stats_kendall_tau": QuerySpec(q_stats_kendall_tau, SQL_STATS_KENDALL_TAU),
    "events_lateness_profile": QuerySpec(
        q_events_lateness_profile, SQL_EVENTS_LATENESS_PROFILE
    ),
    "window_cume_dist": QuerySpec(q_window_cume_dist, SQL_WINDOW_CUME_DIST),
    "dedup_threshold_sweep": QuerySpec(
        q_dedup_threshold_sweep, _sweep_sql()
    ),
    "dedup_quality_shift": QuerySpec(
        q_dedup_quality_shift, SQL_DEDUP_QUALITY_SHIFT
    ),
    "text_garbage_score": QuerySpec(
        q_text_garbage_score, SQL_TEXT_GARBAGE_SCORE
    ),
    "stats_permutation_test": QuerySpec(
        q_stats_permutation_test, SQL_STATS_PERMUTATION_TEST
    ),
    "orders_next_order_affinity": QuerySpec(
        q_orders_next_order_affinity, SQL_ORDERS_NEXT_ORDER_AFFINITY
    ),
    "sample_snis_clipped": QuerySpec(
        q_sample_snis_clipped, SQL_SAMPLE_SNIS_CLIPPED
    ),
}
