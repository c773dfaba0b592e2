"""Warehouse-maintenance and graph-ranking operators: distributed
MERGE/upsert, SCD2 interval building, PageRank, and BM25 retrieval.

Why these belong in a 100 TB training-data engine: corpus refreshes
are MERGEs (new crawl vs existing corpus), per-entity state histories
are SCD2 builds (what was this source's quality tier when the doc was
sampled?), PageRank-style centrality ranks dup-graph hubs and source
authority, and BM25 is the lexical-retrieval baseline every RAG /
decontamination pipeline needs next to the ANN operators in
``operators/similarity.py``.

All four are pure Catalyst plans (no Python in the row path) with
exact DuckDB oracle twins.  Floating-point discipline follows the
k-means precedent (queries/llm.py): every float that crosses the
comparison boundary is rounded on both sides, and every ranking
decision orders by the ROUNDED value with a deterministic id
tie-break, so both engines rank identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import QuerySpec, load_tuned


_t = load_tuned


# --------------------------------------------------------------------
# MERGE / upsert (SCD1): the distributed form of MERGE INTO
# --------------------------------------------------------------------

# Split point for base-vs-updates halves of the events table (testdata
# spans 2024-01; the merge mechanism is what matters, not the date).
_MERGE_SPLIT = "2024-01-16"


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO as a distributed plan: a base profile table (events
    before the split date, aggregated per (user_id, event_type)) is
    merged with an updates batch (events on/after the split).  The
    merge is ONE full-outer shuffle join on the merge key — matched
    rows update (counts add), update-only rows insert, base-only rows
    carry over unchanged — with the action recorded per row the way a
    MERGE audit output would.

    Scale: both sides partition on the same (user_id, event_type) key,
    so the full-outer join is a single co-partitioned shuffle; the
    upstream aggregates are partial (map-side combine) before it.  At
    100 TB the base side would be a bucketed corpus table and the
    updates batch the daily crawl — same plan, no driver state.
    """
    e = _t(spark, sf_dir, "events")
    base = (
        e.filter(F.col("ts") < F.lit(_MERGE_SPLIT).cast("timestamp"))
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("base_events"))
    )
    updates = (
        e.filter(F.col("ts") >= F.lit(_MERGE_SPLIT).cast("timestamp"))
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("upd_events"))
    )
    merged = base.join(updates, ["user_id", "event_type"], "full_outer")
    return merged.select(
        "user_id",
        "event_type",
        (
            F.coalesce(F.col("base_events"), F.lit(0))
            + F.coalesce(F.col("upd_events"), F.lit(0))
        ).alias("total_events"),
        F.when(F.col("base_events").isNull(), F.lit("insert"))
        .when(F.col("upd_events").isNull(), F.lit("keep"))
        .otherwise(F.lit("update"))
        .alias("merge_action"),
    )


SQL_MERGE_UPSERT = f"""
WITH base AS (
  SELECT user_id, event_type, count(*) AS base_events
  FROM events WHERE ts < TIMESTAMP '{_MERGE_SPLIT}'
  GROUP BY 1, 2
),
updates AS (
  SELECT user_id, event_type, count(*) AS upd_events
  FROM events WHERE ts >= TIMESTAMP '{_MERGE_SPLIT}'
  GROUP BY 1, 2
)
SELECT COALESCE(b.user_id, u.user_id) AS user_id,
       COALESCE(b.event_type, u.event_type) AS event_type,
       CAST(COALESCE(b.base_events, 0) + COALESCE(u.upd_events, 0) AS BIGINT)
         AS total_events,
       CASE WHEN b.base_events IS NULL THEN 'insert'
            WHEN u.upd_events IS NULL THEN 'keep'
            ELSE 'update' END AS merge_action
FROM base b FULL OUTER JOIN updates u
  ON b.user_id = u.user_id AND b.event_type = u.event_type
"""


# --------------------------------------------------------------------
# SCD2 interval build (state history with validity ranges)
# --------------------------------------------------------------------


def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build: collapse each user's
    event stream into validity intervals of their current event_type
    state (gaps-and-islands).  A state row opens when the observed
    type differs from the previous observation and closes when the
    next state opens; the last interval per user is flagged current
    with a NULL close.

    Plan shape: two windows over the SAME (user_id; ts, event_id)
    partitioning — Catalyst reuses one sort/exchange for the change
    detector and the island id — then one partial-aggregated groupBy
    and a final lead() over the interval frame.  Everything shuffles
    once on user_id; at 100 TB this is the standard bucketed-history
    build (bucket by user_id, sort by ts).

    Timestamps cross the oracle boundary as epoch microseconds
    (BIGINT) to sidestep timezone/precision rendering differences.
    """
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("chg"),
    ).withColumn("island", F.sum("chg").over(w))
    intervals = changed.groupBy("user_id", "island", "event_type").agg(
        F.min("ts").alias("valid_from"), F.count(F.lit(1)).alias("n_obs")
    )
    wi = Window.partitionBy("user_id").orderBy("island")
    return intervals.select(
        "user_id",
        "event_type",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros(F.lead("valid_from").over(wi)).alias("valid_to_us"),
        F.lead("valid_from").over(wi).isNull().alias("is_current"),
        "n_obs",
    )


SQL_SCD2_USER_STATE = """
WITH obs AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
isl AS (
  SELECT user_id, event_type, ts,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM obs
),
intervals AS (
  SELECT user_id, island, event_type,
         min(ts) AS valid_from, count(*) AS n_obs
  FROM isl GROUP BY 1, 2, 3
)
SELECT user_id, event_type,
       epoch_us(valid_from) AS valid_from_us,
       epoch_us(lead(valid_from) OVER wi) AS valid_to_us,
       lead(valid_from) OVER wi IS NULL AS is_current,
       CAST(n_obs AS BIGINT) AS n_obs
FROM intervals
WINDOW wi AS (PARTITION BY user_id ORDER BY island)
"""


# --------------------------------------------------------------------
# PageRank (fixed power iterations, exact unrolled oracle)
# --------------------------------------------------------------------

_PR_DAMPING = 0.85
_PR_ITERS = 3


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the user<->event_type interaction graph (distinct
    (user, type) edges, both directions, unit weight), damping 0.85,
    3 power iterations from the uniform vector.  The bipartite graph
    stands in for the dup-pair / source-link graphs a corpus pipeline
    ranks for hub detection; the plan is the general one.

    Scale: each iteration is one shuffle — the edge list carries its
    out-degree (computed once, fused into the persisted edges so the
    per-iteration plan is a single join on src, not join+join), then a
    partial-aggregated groupBy dst.  Iteration count is fixed and
    small, so the lineage stays bounded; a production run would
    checkpoint ranks every ~5 iterations.  Ranks stay distributed end
    to end (no collect).

    Float discipline (r8): ranks live on an INTEGER pico-unit grid
    (1e12) end to end — contributions are truncating integer
    divisions (rank_p DIV outdeg, identical on both engines) and
    inflows are integer sums (association-order independent), so the
    result is bit-deterministic at any partitioning.  The earlier
    float-sum form flipped a round(,6) boundary 1 ulp between engines
    depending on accumulation order (in-suite flake, r8).  Total mass
    ≤ 1e12 pico keeps every intermediate exact in BIGINT and inside
    double's 2^53 for the damping product at any node count.
    """
    e = _t(spark, sf_dir, "events")
    pairs = e.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("u"),
        F.concat(F.lit("t:"), F.col("event_type")).alias("t"),
    ).distinct()
    edges = pairs.select(F.col("u").alias("src"), F.col("t").alias("dst")).unionAll(
        pairs.select(F.col("t").alias("src"), F.col("u").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # Plain persist, no unpersist: the returned DataFrame is lazy, so
    # an unpersist in a finally block would drop the cache BEFORE the
    # caller's first action ever materializes it (the cache would never
    # help).  The harnesses empty the session's cache after consuming
    # the result (bench per group, check_oracle per query).
    edges = edges.join(deg, "src").repartition("src").persist()
    # r14 batch 8: nodes is consumed by the init ranks AND every
    # iteration's left join — un-persisted, each round re-ran the
    # distinct (an exchange per round).  Cached hash(node)-partitioned
    # at session width so the per-round join side needs no exchange
    # and no re-evaluation.  Cache/partitioning only — row set
    # unchanged.
    nodes = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .repartition(spark.sparkContext.defaultParallelism, "node")
        .persist()
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n"))
    ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node",
        F.floor(F.lit(1e12) / F.col("n") + 0.5).cast("long").alias("rank_p"),
    )
    teleport = F.floor(
        F.lit((1.0 - _PR_DAMPING) * 1e12) / F.col("n") + 0.5
    ).cast("long")
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("rank_p DIV outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "node",
                (
                    teleport
                    + F.floor(
                        F.lit(_PR_DAMPING)
                        * F.coalesce(F.col("inflow"), F.lit(0)).cast("double")
                        + 0.5
                    ).cast("long")
                ).alias("rank_p"),
            )
        )
    # 6-decimal output via the floor idiom (round() half behavior
    # differs across engines on exact .5 ties — docs/PARITY.md #7)
    return ranks.select(
        "node",
        (F.floor(F.col("rank_p") / 1e6 + 0.5) / F.lit(1e6)).alias("rank_r"),
    )


def _pr_sql_iteration(prev: str, out: str) -> str:
    # the teleport numerator is precomputed in PYTHON and embedded as
    # the identical double literal on both sides: a SQL-side
    # (1.0 - 0.85) is DECIMAL-exact in DuckDB (0.15) while Python's
    # float subtraction carries a 1-ulp error — enough to flip a
    # floor(x + 0.5) boundary for an unlucky node count
    # (docs/PARITY.md constant-table rule)
    return f"""
{out} AS (
  SELECT n.node,
         CAST(floor({(1.0 - _PR_DAMPING) * 1e12!r} / (SELECT n FROM nn) + 0.5)
              AS BIGINT)
         + CAST(floor({_PR_DAMPING}
                      * CAST(COALESCE(infl.inflow, 0) AS DOUBLE) + 0.5)
                AS BIGINT) AS rank_p
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, CAST(sum(p.rank_p // d.outdeg) AS BIGINT) AS inflow
    FROM edges e
    JOIN {prev} p ON p.node = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY 1
  ) infl ON infl.node = n.node
)"""


SQL_GRAPH_PAGERANK = f"""
WITH pairs AS (
  SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS u,
                  't:' || event_type AS t
  FROM events
),
edges AS (
  SELECT u AS src, t AS dst FROM pairs
  UNION ALL
  SELECT t AS src, u AS dst FROM pairs
),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT node,
              CAST(floor(1e12 / (SELECT n FROM nn) + 0.5) AS BIGINT) AS rank_p
       FROM nodes),
{_pr_sql_iteration('r0', 'r1')},
{_pr_sql_iteration('r1', 'r2')},
{_pr_sql_iteration('r2', 'r3')}
SELECT node, floor(rank_p / 1e6 + 0.5) / 1e6 AS rank_r FROM r3
"""


# --------------------------------------------------------------------
# BM25 lexical retrieval (top-k per query)
# --------------------------------------------------------------------

# (query_id, term) pairs drawn from the corpus vocabulary.  The term
# list is tiny and broadcast; per-term document frequencies are
# computed only for these terms (filter-before-aggregate).
_BM25_QUERIES: tuple[tuple[str, str], ...] = (
    ("q1", "spark"),
    ("q1", "join"),
    ("q2", "window"),
    ("q2", "merge"),
    ("q3", "stream"),
    ("q3", "filter"),
)
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10


def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 per query over ``documents`` — the lexical twin of
    the ANN cosine retrieval in ``operators/similarity.py`` and the
    standard first stage of decontamination / RAG pipelines.

    Plan shape: document length and the global (N, avgdl) come from
    one pass over the words array (no explode — ``size`` reads the
    array header); term frequencies explode ONLY rows containing a
    query term after an ``array_intersect`` prefilter, so the explode
    volume is bounded by matches, not corpus size.  Per-term df and
    the globals are broadcast (tiny), the score is one partial-
    aggregated groupBy (query, doc), and the top-k window partitions
    by query id — never global.

    Ranking determinism: scores are rounded to 4 decimals BEFORE the
    rank window on both engines, with doc_id as the tie-break, so both
    engines make identical ordering decisions (k-means precedent).
    """
    d = _t(spark, sf_dir, "documents")
    terms = spark.createDataFrame(list(_BM25_QUERIES), ["query_id", "term"])
    term_arr = F.array(*[F.lit(t) for t in sorted({t for _, t in _BM25_QUERIES})])

    # Persisted (see q_graph_pagerank note: a finally-unpersist on a
    # lazily-returned frame never lets the cache materialize).
    words = (
        d.select(
            "doc_id",
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("ws"),
        )
        .persist()
    )
    dl = words.select("doc_id", F.size("ws").alias("dl"))
    globals_ = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        words.withColumn("hit", F.array_intersect("ws", term_arr))
        .filter(F.size("hit") > 0)
        .select("doc_id", F.explode("ws").alias("term"))
        .join(F.broadcast(terms.select("term").distinct()), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(F.broadcast(terms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(globals_))
        .select(
            "query_id",
            "doc_id",
            (
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (_BM25_K1 + 1))
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("s"), 4).alias("score_r"))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("score_r").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= _BM25_TOPK)
        .select("query_id", "rank", "doc_id", "score_r")
    )


def _bm25_terms_values() -> str:
    return ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)


SQL_TEXT_BM25_TOPK = f"""
WITH terms(query_id, term) AS (VALUES {_bm25_terms_values()}),
words AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
  FROM documents
),
dl AS (SELECT doc_id, len(ws) AS dl FROM words),
g AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT w.doc_id, t.term, count(*) AS tf
  FROM (SELECT doc_id, unnest(ws) AS term FROM words) w
  JOIN (SELECT DISTINCT term FROM terms) t USING (term)
  GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT t.query_id, tf.doc_id,
         round(sum(
           ln(1.0 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * ({_BM25_K1} + 1))
           / (tf.tf + {_BM25_K1}
              * (1 - {_BM25_B} + {_BM25_B} * dl.dl / g.avgdl))
         ), 4) AS score_r
  FROM tf
  JOIN dfreq USING (term)
  JOIN terms t USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN g
  GROUP BY 1, 2
)
SELECT query_id,
       CAST(row_number() OVER wq AS INT) AS rank,
       doc_id, score_r
FROM scored
WINDOW wq AS (PARTITION BY query_id ORDER BY score_r DESC, doc_id)
QUALIFY row_number() OVER wq <= {_BM25_TOPK}
"""


# --------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 + embedding cosine
# --------------------------------------------------------------------

# Each lexical query is anchored to a seed document whose embedding
# drives the semantic arm (embeddings.vec_id indexes documents.doc_id
# in the fixture corpus).  RRF constant 60 per Cormack et al. (the
# standard hybrid-search default).
_RRF_SEEDS: tuple[tuple[str, int], ...] = (("q1", 0), ("q2", 1), ("q3", 2))
_RRF_K = 60
_RRF_ARM_TOPK = 10
_RRF_TOPK = 10


def q_retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion — the standard RAG /
    decontamination first stage that combines a lexical ranking (BM25,
    ``q_text_bm25_topk``) with a semantic one (embedding cosine against
    a per-query seed document).

    rrf(doc) = sum over arms of 1/(K + rank_arm(doc)), docs absent
    from an arm's top-k contribute nothing from that arm.  Plan shape:
    both arms end in per-query top-k windows (never global); fusion is
    a (query_id, doc_id) full outer join of two k-row-per-query
    frames — constant-size regardless of corpus scale, so the whole
    fusion overhead is dominated by the arms themselves.

    Determinism discipline: both arms rank by ROUNDED scores with
    doc_id tie-breaks, and the fused score is rounded before the final
    rank window — identical ordering decisions on both engines.
    """
    from ..functions.vectors import cosine

    lex = q_text_bm25_topk(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("rank_lex")
    )
    e = _t(spark, sf_dir, "embeddings")
    seeds = spark.createDataFrame(list(_RRF_SEEDS), ["query_id", "seed_id"])
    qv = seeds.join(e, seeds.seed_id == e.vec_id).select(
        "query_id", F.col("embedding").alias("qv")
    )
    scored = (
        F.broadcast(qv)
        .crossJoin(
            e.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("dv"))
        )
        .select(
            "query_id",
            "doc_id",
            F.round(cosine(F.col("qv"), F.col("dv")), 4).alias("csim_r"),
        )
    )
    w_sem = Window.partitionBy("query_id").orderBy(
        F.col("csim_r").desc(), F.col("doc_id")
    )
    sem = (
        scored.withColumn("rank_sem", F.row_number().over(w_sem))
        .filter(F.col("rank_sem") <= _RRF_ARM_TOPK)
        .select("query_id", "doc_id", "rank_sem")
    )
    fused = (
        lex.join(sem, ["query_id", "doc_id"], "full_outer")
        .withColumn(
            "rrf",
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("rank_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("rank_sem")), F.lit(0.0)),
                6,
            ),
        )
    )
    w_f = Window.partitionBy("query_id").orderBy(F.col("rrf").desc(), F.col("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w_f))
        .filter(F.col("rank") <= _RRF_TOPK)
        .select("query_id", "rank", "doc_id", "rrf")
    )


def _rrf_seeds_values() -> str:
    return ", ".join(f"('{q}', {d})" for q, d in _RRF_SEEDS)


SQL_RETRIEVAL_RRF_FUSION = f"""
WITH lex AS ({SQL_TEXT_BM25_TOPK}),
seeds(query_id, seed_id) AS (VALUES {_rrf_seeds_values()}),
sem_scored AS (
  SELECT s.query_id, e.vec_id AS doc_id,
         round(list_cosine_similarity(q.embedding::DOUBLE[],
                                      e.embedding::DOUBLE[]), 4) AS csim_r
  FROM seeds s
  JOIN embeddings q ON q.vec_id = s.seed_id
  CROSS JOIN embeddings e
),
sem AS (
  SELECT query_id, doc_id,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY csim_r DESC, doc_id) AS INT)
             AS rank_sem
  FROM sem_scored
  QUALIFY rank_sem <= {_RRF_ARM_TOPK}
),
fused AS (
  SELECT coalesce(l.query_id, s.query_id) AS query_id,
         coalesce(l.doc_id, s.doc_id) AS doc_id,
         round(coalesce(1.0 / ({_RRF_K} + l.rank), 0)
               + coalesce(1.0 / ({_RRF_K} + s.rank_sem), 0), 6) AS rrf
  FROM lex l
  FULL JOIN sem s ON l.query_id = s.query_id AND l.doc_id = s.doc_id
)
SELECT query_id, CAST(row_number() OVER wf AS INT) AS rank, doc_id, rrf
FROM fused
WINDOW wf AS (PARTITION BY query_id ORDER BY rrf DESC, doc_id)
QUALIFY row_number() OVER wf <= {_RRF_TOPK}
"""


# --------------------------------------------------------------------
# Retention cohorts: the canonical product-analytics rollup
# --------------------------------------------------------------------


def q_events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily retention cohorts: users grouped by first-seen date, each
    later active day counted as (cohort_day, day_offset, n_active)
    with the retention rate against the cohort size.

    Scale shape: two aggregations keyed on user_id (first-seen) and
    (cohort_day, offset) — the user dimension shuffles once, the
    cohort matrix is days x days regardless of event volume.  The
    first-seen frame is the broadcast side of the activity join."""
    e = _t(spark, sf_dir, "events")
    activity = e.select(
        "user_id", F.to_date(F.col("ts")).alias("d")
    ).distinct()
    first = activity.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    sizes = first.groupBy("cohort_day").agg(
        F.countDistinct("user_id").alias("n_cohort")
    )
    ret = (
        activity.join(first, "user_id")  # user-dim sized: co-partitioned
        # shuffle join, never a broadcast (unbounded at scale)
        .select(
            "cohort_day",
            F.datediff(F.col("d"), F.col("cohort_day")).alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return ret.join(sizes, "cohort_day").select(
        # Dates serialize differently across engines (object vs
        # datetime64); emit the ISO string so the driver hash agrees.
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        "day_offset",
        "n_active",
        "n_cohort",
        F.round(F.col("n_active") / F.col("n_cohort"), 4).alias("retention"),
    )


SQL_EVENTS_RETENTION_COHORTS = """
WITH activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
first AS (
  SELECT user_id, min(d) AS cohort_day FROM activity GROUP BY 1
),
sizes AS (
  SELECT cohort_day, count(DISTINCT user_id) AS n_cohort FROM first GROUP BY 1
),
ret AS (
  SELECT f.cohort_day, date_diff('day', f.cohort_day, a.d) AS day_offset,
         count(DISTINCT a.user_id) AS n_active
  FROM activity a JOIN first f USING (user_id)
  GROUP BY 1, 2
)
SELECT strftime(r.cohort_day, '%Y-%m-%d') AS cohort_day,
       r.day_offset, r.n_active, s.n_cohort,
       round(r.n_active * 1.0 / s.n_cohort, 4) AS retention
FROM ret r JOIN sizes s USING (cohort_day)
"""


# --------------------------------------------------------------------
# Market-basket pair mining: co-occurrence support + lift
# --------------------------------------------------------------------

_BASKET_MAX_ORDER = 20
_BASKET_MIN_SUPPORT = 3


def capped_baskets(spark: SparkSession, sf_dir: str, max_order: int):
    """Shared capped-basket builder for the market-basket family
    (pair mining here, directed rules in warehouse5): returns
    (all distinct (order, part) rows, the subset restricted to
    baskets with <= max_order distinct parts).  One definition of
    the capping rule instead of a copy per query."""

    # r14: ONE width-pinned exchange by order key up front makes the
    # whole chain exchange-free: hash(l_orderkey) co-locates every
    # row of an order, which satisfies the clustering required by the
    # distinct on (order, part), the basket-size groupBy, the cap
    # join, and the callers' per-order self-join — the planner adds
    # no further Exchange until the pair aggregate.  The pinned width
    # also stops AQE byte-coalescing from serializing the quadratic
    # per-order pair expansion (CPU-dense, byte-light).  Both frames
    # are persisted: the basket family's queries consume li2 3-4
    # times (pair sides, marginals, totals), each un-cached read
    # re-ran the scan+distinct.
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition(
            spark.sparkContext.defaultParallelism, "l_orderkey"
        )
        .distinct()
        .persist()
    )
    ok = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("sz"))
        .filter(F.col("sz") <= max_order)
        .select("l_orderkey")
    )
    return li, li.join(ok, "l_orderkey").persist()


def basket_cte_sql(max_order: int) -> str:
    """The DuckDB twin of :func:`capped_baskets`: li / ok / li2 CTE
    bodies (callers embed inside ``WITH``)."""
    return f"""li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
ok AS (
  SELECT l_orderkey FROM li GROUP BY 1
  HAVING count(*) <= {max_order}
),
li2 AS (SELECT li.* FROM li JOIN ok USING (l_orderkey))"""


def q_basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent part co-occurrence within orders: pair support and
    lift over the lineitem fact.  Pair generation is the order-keyed
    self-join — quadratic ONLY in per-order item count, which is
    capped (orders above 20 distinct parts are skipped, the standard
    basket-mining guard), so candidates stay linear in order count at
    any scale.  Lift's marginals come from one part-keyed aggregate.
    Output: pairs with support >= 3 (pa < pb)."""
    li, li2 = capped_baskets(spark, sf_dir, _BASKET_MAX_ORDER)
    a = li2.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = li2.select("l_orderkey", F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= _BASKET_MIN_SUPPORT)
    )
    marg = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_orders"))
    tot = li.agg(F.countDistinct("l_orderkey").alias("tot"))
    return (
        pairs.join(
            F.broadcast(marg.withColumnRenamed("l_partkey", "pa")
                        .withColumnRenamed("n_orders", "na")),
            "pa",
        )
        .join(
            F.broadcast(marg.withColumnRenamed("l_partkey", "pb")
                        .withColumnRenamed("n_orders", "nb")),
            "pb",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "pa",
            "pb",
            "support",
            F.round(
                (F.col("support") * F.col("tot"))
                / (F.col("na") * F.col("nb")),
                4,
            ).alias("lift"),
        )
    )


SQL_BASKET_PART_PAIRS = f"""
WITH {basket_cte_sql(_BASKET_MAX_ORDER)},
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS support
  FROM li2 a JOIN li2 b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {_BASKET_MIN_SUPPORT}
),
marg AS (SELECT l_partkey, count(*) AS n_orders FROM li GROUP BY 1),
tot AS (SELECT count(DISTINCT l_orderkey) AS tot FROM li)
SELECT p.pa, p.pb, p.support,
       round((p.support * t.tot) * 1.0 / (ma.n_orders * mb.n_orders), 4)
           AS lift
FROM pairs p
JOIN marg ma ON ma.l_partkey = p.pa
JOIN marg mb ON mb.l_partkey = p.pb
CROSS JOIN tot t
"""


QUERIES: dict[str, QuerySpec] = {
    "events_retention_cohorts": QuerySpec(
        q_events_retention_cohorts, SQL_EVENTS_RETENTION_COHORTS
    ),
    "basket_part_pairs": QuerySpec(
        q_basket_part_pairs, SQL_BASKET_PART_PAIRS
    ),
    "merge_upsert": QuerySpec(q_merge_upsert, SQL_MERGE_UPSERT),
    "scd2_user_state": QuerySpec(q_scd2_user_state, SQL_SCD2_USER_STATE),
    "graph_pagerank": QuerySpec(q_graph_pagerank, SQL_GRAPH_PAGERANK),
    "text_bm25_topk": QuerySpec(q_text_bm25_topk, SQL_TEXT_BM25_TOPK),
    "retrieval_rrf_fusion": QuerySpec(
        q_retrieval_rrf_fusion, SQL_RETRIEVAL_RRF_FUSION
    ),
}
