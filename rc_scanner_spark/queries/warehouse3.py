"""Round-6 warehouse / pipeline additions: interval-overlap self-join,
interval union (covered time), deterministic mode, Bloom-pruned join,
salted two-phase aggregation, per-group reservoir sampling, time-range
rolling windows, and RAKE-style keyphrase extraction.

Why these belong in a 100 TB training-data engine: interval joins and
interval unions are the session/occupancy primitives of event
analytics; the Bloom-pruned join and salted two-phase aggregate are
the two standard shuffle-volume mitigations (semi-join reduction and
hot-key splitting) demonstrated as result-identical rewrites of their
naive forms; per-group reservoir sampling builds eval sets with a
fixed per-stratum budget; and keyphrase extraction is the phrase-level
upgrade of the tf-idf unigram signal for corpus topic profiling.

Shared scale discipline (per-query notes on each builder):
  * every self-join carries an equi key (custkey / grid bucket) so the
    non-equi part is a residual predicate, never a cartesian;
  * money through integer cents, durations through integer seconds —
    no float summation-order divergence at any scale;
  * windows are always partitioned (user / doc / lang) — no global
    windows;
  * the Bloom build is a 1-row aggregate broadcast to the fact side
    (pinned in tests/test_plan_audit.py ALLOWED_CARTESIANS).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from . import QuerySpec, load_tuned

_t = load_tuned


# --------------------------------------------------------------------
# interval-overlap self-join
# --------------------------------------------------------------------


def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: pairs of orders from the SAME
    customer whose service intervals overlap.  Interval =
    [o_orderdate, o_orderdate + floor(o_totalprice/1000)+1 days]
    (pricier orders take longer to fulfil).

    Scale: the join carries the o_custkey equi key, so Spark plans a
    hash/sort-merge join shuffled on custkey and evaluates the
    interval predicate as a residual — per-customer order counts are
    bounded, so the pair fan-out is bounded per key and never global.
    An interval join WITHOUT an equi key must grid-bucket first (see
    events_concurrency's minute grid for that pattern)."""
    o = (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("okey"),
            F.col("o_orderdate").cast("date").alias("start"),
            F.date_add(
                F.col("o_orderdate").cast("date"),
                (F.floor(F.col("o_totalprice") / 1000) + 1).cast("int"),
            ).alias("end"),
        )
    )
    a = o.alias("a")
    b = o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.okey") < F.col("b.okey"))
            & (F.col("a.start") <= F.col("b.end"))
            & (F.col("b.start") <= F.col("a.end")),
        )
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.okey").alias("key_a"),
            F.col("b.okey").alias("key_b"),
            (
                F.datediff(
                    F.least(F.col("a.end"), F.col("b.end")),
                    F.greatest(F.col("a.start"), F.col("b.start")),
                )
                + 1
            )
            .cast("long")
            .alias("overlap_days"),
        )
    )


SQL_JOIN_INTERVAL_OVERLAP = """
WITH o AS (
  SELECT o_custkey, o_orderkey AS okey,
         CAST(o_orderdate AS DATE) AS s,
         CAST(o_orderdate AS DATE)
           + CAST(floor(o_totalprice / 1000) + 1 AS INT) AS e
  FROM orders
)
SELECT a.o_custkey AS custkey, a.okey AS key_a, b.okey AS key_b,
       CAST(date_diff('day', greatest(a.s, b.s), least(a.e, b.e)) + 1 AS BIGINT)
           AS overlap_days
FROM o a JOIN o b
  ON a.o_custkey = b.o_custkey AND a.okey < b.okey
 AND a.s <= b.e AND b.s <= a.e
"""


# --------------------------------------------------------------------
# interval union (covered time per user)
# --------------------------------------------------------------------


def q_events_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total covered time per user after merging overlapping activity
    intervals [ts, ts + floor(value*60) seconds] — the classic
    interval-union sweep, as two partitioned windows:

      1. per user in start order, running max of preceding ends;
         a row whose start exceeds it opens a new island;
      2. islands aggregate to (min start, max end); covered time =
         sum of island extents.

    Scale: both windows partition by user_id — per-user event counts
    bound every frame; no global ordering anywhere.  All arithmetic
    in integer epoch seconds (no float, no timezone)."""
    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("start_s"),
        (F.col("ts").cast("long") + F.floor(F.col("value") * 60).cast("long")).alias(
            "end_s"
        ),
    )
    w = Window.partitionBy("user_id").orderBy("start_s", "event_id")
    prev_max_end = F.max("end_s").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_island",
        F.when(
            prev_max_end.isNull() | (F.col("start_s") > prev_max_end), 1
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_island = islands.groupBy("user_id", "island").agg(
        F.min("start_s").alias("s"), F.max("end_s").alias("e")
    )
    return per_island.groupBy("user_id").agg(
        F.sum(F.col("e") - F.col("s")).alias("covered_s"),
        F.count(F.lit(1)).alias("n_islands"),
    )


SQL_EVENTS_INTERVAL_UNION = """
WITH iv AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS start_s,
         CAST(floor(epoch(ts)) AS BIGINT)
           + CAST(floor(value * 60) AS BIGINT) AS end_s
  FROM events
),
flagged AS (
  SELECT *,
         CASE WHEN max(end_s) OVER (
                 PARTITION BY user_id ORDER BY start_s, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              IS NULL
           OR start_s > max(end_s) OVER (
                 PARTITION BY user_id ORDER BY start_s, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS new_island
  FROM iv
),
islands AS (
  SELECT *, sum(new_island) OVER (
            PARTITION BY user_id ORDER BY start_s, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
),
per_island AS (
  SELECT user_id, island, min(start_s) AS s, max(end_s) AS e
  FROM islands GROUP BY user_id, island
)
SELECT user_id, CAST(sum(e - s) AS BIGINT) AS covered_s,
       count(*) AS n_islands
FROM per_island GROUP BY user_id
"""


# --------------------------------------------------------------------
# deterministic mode aggregate
# --------------------------------------------------------------------


def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: each user's most frequent event
    type, ties broken toward the lexicographically LARGEST type (both
    engines compare structs field-by-field, so max(struct(cnt, type))
    is the same deterministic winner everywhere — never the
    "arbitrary row" semantics of SQL mode()).

    Scale: two hash aggregations — (user, type) partial counts, then
    a per-user struct max; both map-side combinable, one shuffle
    each on bounded keys."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    best = F.max(F.struct(F.col("cnt"), F.col("event_type").alias("t")))
    return counts.groupBy("user_id").agg(
        best.getField("t").alias("mode_type"),
        best.getField("cnt").alias("mode_cnt"),
    )


SQL_AGG_MODE = """
WITH counts AS (
  SELECT user_id, event_type, count(*) AS cnt
  FROM events GROUP BY user_id, event_type
)
SELECT user_id,
       max({'cnt': cnt, 't': event_type}).t AS mode_type,
       max({'cnt': cnt, 't': event_type}).cnt AS mode_cnt
FROM counts GROUP BY user_id
"""


# --------------------------------------------------------------------
# Bloom-pruned join
# --------------------------------------------------------------------

_BLOOM_WORDS = 16  # 1024 bits
_BLOOM_K = 3


def q_join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned dimension join: revenue per brand for large parts
    (p_size >= 46).  The fact side (lineitem) is pre-filtered by a
    1024-bit / 3-hash Bloom filter built from the surviving dimension
    keys BEFORE the join — the manual form of Spark's runtime
    bloom-filter join reduction, written out so the mechanism is
    visible and testable.

    Result-identical to the plain join (the Bloom only has false
    POSITIVES, and the exact join removes those), so the oracle is
    the naive SQL join.  Scale: at 100 TB the win is shuffle volume —
    rows that cannot match never leave the map side (~selectivity of
    the dim filter, here ~10%), at the cost of one broadcast of 128
    bytes of filter state.  The Bloom build is a 1-row aggregate
    (bit_or of per-key masks) cross-joined broadcast onto the fact —
    the benign broadcast-scalar cartesian pattern."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") >= 46)
        .select("p_partkey", "p_brand")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    # build: one row of m/64 longs, each the bit_or of the masks that
    # land in that word.  r14 batch 7: the 16-word x 3-hash mask
    # chains are SQL expression strings — the Column-API loop was
    # ~500 py4j calls of driver plan construction per build
    # (`tools/run_query.py --build-only` radar); literals/casts
    # spelled exactly as the Column forms parsed, so filter state and
    # row sets are unchanged.
    m = _BLOOM_WORDS * 64

    def pos_sql(key: str, i: int) -> str:
        return f"pmod(xxhash64({key}, {i}), {m})"

    def bit_sql(key: str, i: int) -> str:
        return (
            "shiftleft(CAST(1 AS BIGINT),"
            f" CAST(pmod({pos_sql(key, i)}, 64) AS INT))"
        )

    word_cols = [
        F.expr(
            "bit_or(CAST(0 AS BIGINT)"
            + "".join(
                f" | CASE WHEN CAST({pos_sql('p_partkey', i)} / 64 AS INT)"
                f" = {w} THEN {bit_sql('p_partkey', i)}"
                " ELSE CAST(0 AS BIGINT) END"
                for i in range(_BLOOM_K)
            )
            + f") AS w{w}"
        )
        for w in range(_BLOOM_WORDS)
    ]
    bloom = p.agg(*word_cols).selectExpr(
        "array("
        + ", ".join(f"w{w}" for w in range(_BLOOM_WORDS))
        + ") AS bloom"
    )
    # probe: all k bits set -> candidate
    cond = "true" + "".join(
        f" AND ((element_at(bloom, CAST({pos_sql('l_partkey', i)} / 64"
        f" AS INT) + 1) & {bit_sql('l_partkey', i)}) != 0)"
        for i in range(_BLOOM_K)
    )
    candidates = (
        li.crossJoin(F.broadcast(bloom)).filter(F.expr(cond)).drop("bloom")
    )
    joined = candidates.join(p, candidates.l_partkey == p.p_partkey)
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
            ).cast("long")
        ).alias("revenue_cents"),
    )


SQL_JOIN_BLOOM_PRUNED = """
SELECT p_brand, count(*) AS n_items,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size >= 46
GROUP BY p_brand
"""


# --------------------------------------------------------------------
# salted two-phase aggregation
# --------------------------------------------------------------------


def q_agg_salted_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation: per-event-type totals computed as
    groupBy(type, salt) partials -> groupBy(type) final.  The manual
    form of hot-GROUP-BY-key mitigation: one pathological key (90% of
    a 100 TB stream being 'click') overwhelms a single reducer in the
    naive plan; with a 16-way deterministic salt the key's partials
    spread across 16 tasks and the final pass merges 16 rows.

    Salt = pmod(xxhash64(event_id), 16): DETERMINISTIC (retry-safe,
    unlike a random salt — see salted_join's docstring for the stage
    retry hazard).  Sums in integer cents, so the two-phase
    re-association is exact — float sums would differ by summation
    order between the phases and the oracle."""
    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    partial = (
        ev.select(
            "event_type",
            F.pmod(F.xxhash64("event_id"), F.lit(16)).alias("salt"),
            cents.alias("cents"),
        )
        .groupBy("event_type", "salt")
        .agg(F.count(F.lit(1)).alias("pn"), F.sum("cents").alias("psum"))
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.sum("psum").alias("value_cents"),
    )


SQL_AGG_SALTED_TWOPHASE = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS value_cents
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------
# per-group reservoir sample
# --------------------------------------------------------------------


def q_sample_reservoir_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group reservoir: exactly k=5 documents per
    language, chosen by a salted portable hash (md5-derived, replayable
    in any engine) — the fixed-budget-per-stratum eval-set builder
    (contrast sample_uniform_k: one global budget; sample_stratified:
    proportional rates).

    Scale: one partitioned window per language (row_number over hash
    order) — never a global sort; the hash order makes re-runs stable
    under repartitioning and cluster size changes."""
    d = _t(spark, sf_dir, "documents")
    hv = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit("|res42")))
    w = Window.partitionBy("lang").orderBy(hv.asc(), F.col("doc_id").asc())
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("lang", F.col("rk").cast("long").alias("rk"), "doc_id", "source")
    )


SQL_SAMPLE_RESERVOIR_GROUP = """
WITH h AS (
  SELECT lang, doc_id, source,
         CAST(concat('0x', substr(md5(doc_id || '|res42'), 1, 15)) AS BIGINT)
             AS hv
  FROM documents
),
r AS (
  SELECT lang, doc_id, source,
         row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rk
  FROM h
)
SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, source
FROM r WHERE rk <= 5
"""


# --------------------------------------------------------------------
# time-range rolling window
# --------------------------------------------------------------------


def q_window_time_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing 1-hour activity: for every event, the count
    and value sum of the same user's events in the preceding hour
    (inclusive) — a RANGE frame over time, the shape RANGE BETWEEN
    INTERVAL '1' HOUR PRECEDING expresses in SQL.

    Implementation: rangeBetween(-3600, 0) over integer epoch seconds
    (the DataFrame API's numeric-range form of the interval frame;
    peers at the same second share a frame in both engines by
    construction).  Partitioned by user — bounded frames, no global
    window.  Sums in integer cents."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("ts_s"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_s").rangeBetween(-3600, 0)
    return base.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum("cents").over(w).alias("cents_1h"),
    )


SQL_WINDOW_TIME_RANGE_ROLLING = """
WITH base AS (
  SELECT event_id, user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
)
SELECT event_id, user_id,
       count(*) OVER (PARTITION BY user_id ORDER BY ts_s
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_1h,
       CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts_s
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cents_1h
FROM base
"""


# --------------------------------------------------------------------
# RAKE-style keyphrase extraction
# --------------------------------------------------------------------

_RAKE_STOPWORDS = (
    "the", "a", "of", "and", "to", "in", "is", "for", "on", "with",
    "as", "by", "an", "at", "it", "or", "be", "are", "was", "that",
)


def q_text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE-style keyphrase extraction: candidate phrases are maximal
    runs of non-stopword tokens; the corpus-level score of a phrase is
    its document frequency; output = top 15 multi-word phrases per
    language (deterministic tie-break: phrase ascending).

    Scale: tokenize once (the words() split), posexplode to
    (doc, pos, word), detect phrase islands with ONE window
    partitioned by doc (running count of stopword boundaries), then
    hash-aggregate phrases.  Phrase cardinality is corpus-sized, not
    quadratic; the per-language top-k is a partitioned window over the
    phrase aggregate."""
    from ..operators.text import words

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.posexplode(words(F.col("text"))).alias("pos", "word")
    )
    is_stop = F.col("word").isin(*_RAKE_STOPWORDS)
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    grouped = toks.withColumn(
        "grp",
        F.sum(is_stop.cast("int")).over(
            wdoc.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).filter(~is_stop)
    phrases = (
        grouped.groupBy("doc_id", "lang", "grp")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("pos", "word"))
                ).getField("word"),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("n_words"),
        )
        .filter(F.col("n_words") >= 2)
    )
    scored = phrases.groupBy("lang", "phrase").agg(
        F.count_distinct("doc_id").alias("df")
    )
    wtop = Window.partitionBy("lang").orderBy(
        F.col("df").desc(), F.col("phrase").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") <= 15)
        .select("lang", F.col("rk").cast("long").alias("rk"), "phrase", "df")
    )


SQL_TEXT_RAKE_KEYWORDS = """
WITH arrs AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     x -> x <> '') AS ws
  FROM documents
),
toks AS (
  SELECT doc_id, lang, unnest(ws) AS word,
         CAST(generate_subscripts(ws, 1) AS BIGINT) - 1 AS pos
  FROM arrs
),
flagged AS (
  SELECT *,
         CASE WHEN word IN ('the','a','of','and','to','in','is','for','on',
                            'with','as','by','an','at','it','or','be','are',
                            'was','that') THEN 1 ELSE 0 END AS is_stop
  FROM toks
),
grouped AS (
  SELECT *, sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM flagged
),
phrases AS (
  SELECT doc_id, lang, grp,
         string_agg(word, ' ' ORDER BY pos) AS phrase,
         count(*) AS n_words
  FROM grouped WHERE is_stop = 0
  GROUP BY doc_id, lang, grp
  HAVING count(*) >= 2
),
scored AS (
  SELECT lang, phrase, count(DISTINCT doc_id) AS df
  FROM phrases GROUP BY lang, phrase
),
ranked AS (
  SELECT lang, phrase, df,
         row_number() OVER (PARTITION BY lang ORDER BY df DESC, phrase) AS rk
  FROM scored
)
SELECT lang, CAST(rk AS BIGINT) AS rk, phrase, CAST(df AS BIGINT) AS df
FROM ranked WHERE rk <= 15
"""


# --------------------------------------------------------------------
# audio analysis-window plan
# --------------------------------------------------------------------


def q_multimodal_audio_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio frame windowing plan (operators/multimodal.
    audio_window_plan): (doc_id, n_samples) -> one row per 1024-sample
    window at hop 512, pure sequence+explode.  Sample counts derived
    deterministically from doc_id so the oracle can replay them; clips
    shorter than one window drop out (STFT drop-last)."""
    from ..operators.multimodal import audio_window_plan

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    media = d.select(
        "doc_id",
        ((F.col("doc_id") % 11) * 700 + 800).cast("long").alias("n_samples"),
    )
    return audio_window_plan(media, window=1024, hop=512)


SQL_MULTIMODAL_AUDIO_PLAN = """
WITH media AS (
  SELECT doc_id, (doc_id % 11) * 700 + 800 AS n_samples
  FROM documents WHERE doc_id % 3 = 0
)
SELECT doc_id, unnest(range(0, (n_samples - 1024) // 512 + 1)) AS frame_idx,
       unnest(range(0, (n_samples - 1024) // 512 + 1)) * 512 AS start_sample,
       unnest(range(0, (n_samples - 1024) // 512 + 1)) * 512 + 1024 AS end_sample
FROM media WHERE n_samples >= 1024
"""


# --------------------------------------------------------------------
# BPE first-merge candidates
# --------------------------------------------------------------------


def q_text_bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer induction, round 1: the top-20 adjacent character
    pairs across the corpus weighted by word frequency — exactly the
    statistic the first BPE merge maximizes.  Deterministic tie-break:
    pair ascending.

    Scale: aggregate words first (word -> corpus count, one shuffle on
    a vocabulary-sized frame), then explode each DISTINCT word's
    character pairs (substring windows, no Python) weighted by its
    count — pair volume is vocab x word length, independent of corpus
    row count.  Top-20 via orderBy().limit() = distributed
    TakeOrderedAndProject."""
    from ..operators.text import words

    d = _t(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.length("word") >= 2)
    )
    pairs = wc.select(
        "cnt",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("pair").asc())
        .limit(20)
    )


SQL_TEXT_BPE_PAIR_MERGES = """
WITH tok AS (
  SELECT unnest(list_filter(
           regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS word
  FROM documents
),
wc AS (
  SELECT word, count(*) AS cnt FROM tok GROUP BY word HAVING length(word) >= 2
),
pairs AS (
  SELECT cnt, unnest(list_transform(range(1, length(word)),
                                    i -> substr(word, CAST(i AS INT), 2))) AS pair
  FROM wc
)
SELECT pair, CAST(sum(cnt) AS BIGINT) AS freq
FROM pairs GROUP BY pair
ORDER BY freq DESC, pair ASC
LIMIT 20
"""


# --------------------------------------------------------------------
# greedy k-center coreset
# --------------------------------------------------------------------


def q_sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (k=4, unrolled) over the embedding
    table: start from the smallest vec_id, then three times pick the
    point FARTHEST (cosine distance, 4-dec rounded, vec_id tie-break)
    from the chosen set — the classic 2-approximation diversity
    selection for eval-set construction (contrast
    sample_cluster_balanced: density-balanced; this maximizes spread).
    Output: each center's rank/id, how many points it covers (nearest
    center by final distance, rank tie-break), and the coreset radius.

    Scale: each round is one broadcast of a 1-row center frame + a
    distributed TakeOrderedAndProject argmax — k rounds, k broadcast
    cartesians (pinned), never a point-to-point pair join.  Each
    round's distance frame is persisted (released by
    operators/dedup.release_caches) because the next center pick AND
    the next round both consume it; without the persist every unrolled
    subtree re-scans and re-computes all prior rounds (~4x the work,
    15 cartesian nodes instead of 4).  All distances 4-dec rounded so
    the argmax ordering replays exactly in the oracle."""
    from ..functions.vectors import cosine

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def dist(center_vec):
        return F.round(1 - cosine(F.col("embedding"), center_vec), 4)

    c1 = e.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("c1_id"), F.col("embedding").alias("c1v")
    )
    d1 = (
        e.crossJoin(F.broadcast(c1)).select(
            "vec_id", "embedding", "c1_id", dist(F.col("c1v")).alias("dm1")
        )
        .persist()
    )
    c2 = d1.orderBy(F.col("dm1").desc(), F.col("vec_id").asc()).limit(1).select(
        F.col("vec_id").alias("c2_id"), F.col("embedding").alias("c2v")
    )
    d2 = (
        d1.crossJoin(F.broadcast(c2)).select(
            "vec_id", "embedding", "c1_id", "c2_id",
            "dm1",
            dist(F.col("c2v")).alias("d2"),
        ).withColumn("dm2", F.least("dm1", "d2"))
        .persist()
    )
    c3 = d2.orderBy(F.col("dm2").desc(), F.col("vec_id").asc()).limit(1).select(
        F.col("vec_id").alias("c3_id"), F.col("embedding").alias("c3v")
    )
    d3 = (
        d2.crossJoin(F.broadcast(c3)).select(
            "vec_id", "embedding", "c1_id", "c2_id", "c3_id",
            "dm1", "d2", "dm2",
            dist(F.col("c3v")).alias("d3"),
        ).withColumn("dm3", F.least("dm2", "d3"))
        .persist()
    )
    c4 = d3.orderBy(F.col("dm3").desc(), F.col("vec_id").asc()).limit(1).select(
        F.col("vec_id").alias("c4_id"), F.col("embedding").alias("c4v")
    )
    d4 = d3.crossJoin(F.broadcast(c4)).select(
        "vec_id", "c1_id", "c2_id", "c3_id", "c4_id",
        "dm1", "d2", "d3",
        dist(F.col("c4v")).alias("d4"),
    )
    # nearest center rank: min distance, earlier rank wins ties
    dmin = F.least("dm1", "d2", "d3", "d4")
    rank = (
        F.when(F.col("dm1") == dmin, 1)
        .when(F.col("d2") == dmin, 2)
        .when(F.col("d3") == dmin, 3)
        .otherwise(4)
    )
    assigned = d4.select(
        "c1_id", "c2_id", "c3_id", "c4_id",
        rank.alias("center_rank"),
        dmin.alias("dmin"),
    )
    return assigned.groupBy(
        "center_rank", "c1_id", "c2_id", "c3_id", "c4_id"
    ).agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.max(F.floor(F.col("dmin") * 1000000 + 0.5).cast("long")).alias(
            "max_dist_ppm"
        ),
    ).select(
        F.col("center_rank").cast("long").alias("center_rank"),
        F.when(F.col("center_rank") == 1, F.col("c1_id"))
        .when(F.col("center_rank") == 2, F.col("c2_id"))
        .when(F.col("center_rank") == 3, F.col("c3_id"))
        .otherwise(F.col("c4_id"))
        .alias("center_id"),
        "n_assigned",
        "max_dist_ppm",
    )


SQL_SAMPLE_KCENTER_CORESET = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c1 AS (SELECT vec_id AS c1_id, v AS c1v FROM e ORDER BY vec_id LIMIT 1),
d1 AS (
  SELECT e.vec_id, e.v, c1_id,
         round(1 - list_cosine_similarity(e.v, c1v), 4) AS dm1
  FROM e, c1
),
c2 AS (SELECT vec_id AS c2_id, v AS c2v FROM d1
       ORDER BY dm1 DESC, vec_id ASC LIMIT 1),
d2 AS (
  SELECT d1.*, c2_id,
         round(1 - list_cosine_similarity(d1.v, c2v), 4) AS d2,
         least(dm1, round(1 - list_cosine_similarity(d1.v, c2v), 4)) AS dm2
  FROM d1, c2
),
c3 AS (SELECT vec_id AS c3_id, v AS c3v FROM d2
       ORDER BY dm2 DESC, vec_id ASC LIMIT 1),
d3 AS (
  SELECT d2.*, c3_id,
         round(1 - list_cosine_similarity(d2.v, c3v), 4) AS d3,
         least(dm2, round(1 - list_cosine_similarity(d2.v, c3v), 4)) AS dm3
  FROM d2, c3
),
c4 AS (SELECT vec_id AS c4_id, v AS c4v FROM d3
       ORDER BY dm3 DESC, vec_id ASC LIMIT 1),
d4 AS (
  SELECT d3.*, c4_id,
         round(1 - list_cosine_similarity(d3.v, c4v), 4) AS d4
  FROM d3, c4
),
assigned AS (
  SELECT c1_id, c2_id, c3_id, c4_id,
         CASE WHEN dm1 = least(dm1, d2, d3, d4) THEN 1
              WHEN d2 = least(dm1, d2, d3, d4) THEN 2
              WHEN d3 = least(dm1, d2, d3, d4) THEN 3
              ELSE 4 END AS center_rank,
         least(dm1, d2, d3, d4) AS dmin
  FROM d4
)
SELECT CAST(center_rank AS BIGINT) AS center_rank,
       CASE WHEN center_rank = 1 THEN c1_id
            WHEN center_rank = 2 THEN c2_id
            WHEN center_rank = 3 THEN c3_id
            ELSE c4_id END AS center_id,
       count(*) AS n_assigned,
       CAST(max(CAST(floor(dmin * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
           AS max_dist_ppm
FROM assigned GROUP BY center_rank, c1_id, c2_id, c3_id, c4_id
"""



# --------------------------------------------------------------------
# RFM customer segmentation
# --------------------------------------------------------------------


def q_orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer Recency (days since last order),
    Frequency (order count), Monetary (cents) scored 1-5 against exact
    quintile cut points, rolled up to segment sizes + revenue.

    Scale: one per-customer aggregate (shuffle on custkey), ONE 1-row
    exact-percentile aggregate for all 12 cut points (Spark
    percentile == DuckDB quantile_cont, verified in earlier rounds),
    broadcast back for the score comparison — no sort, no global
    window, no per-customer ranking pass.  Score s = 1 + #cuts
    strictly below the metric — deterministic for ties on cut points.
    """
    o = _t(spark, sf_dir, "orders")
    ref = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("ref_day"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_day"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "o_custkey",
            F.datediff(F.col("ref_day"), F.col("last_day"))
            .cast("long")
            .alias("recency_d"),
            "freq",
            "monetary_cents",
        )
    )
    qs = [0.2, 0.4, 0.6, 0.8]
    cuts = per_cust.agg(
        F.percentile(F.col("recency_d"), qs).alias("rc"),
        F.percentile(F.col("freq"), qs).alias("fc"),
        F.percentile(F.col("monetary_cents"), qs).alias("mc"),
    )

    def score(metric, cut_arr):
        s = F.lit(1)
        for i in range(1, 5):
            s = s + F.when(
                metric > F.element_at(F.col(cut_arr), i), 1
            ).otherwise(0)
        return s

    scored = per_cust.crossJoin(F.broadcast(cuts)).select(
        score(F.col("recency_d"), "rc").alias("r_score"),
        score(F.col("freq"), "fc").alias("f_score"),
        score(F.col("monetary_cents"), "mc").alias("m_score"),
        "monetary_cents",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("monetary_cents").alias("segment_cents"),
    )


SQL_ORDERS_RFM_SEGMENTS = """
WITH ref AS (SELECT max(CAST(o_orderdate AS DATE)) AS ref_day FROM orders),
per_cust AS (
  SELECT o_custkey,
         CAST(date_diff('day', max(CAST(o_orderdate AS DATE)),
                        (SELECT ref_day FROM ref)) AS BIGINT) AS recency_d,
         count(*) AS freq,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS monetary_cents
  FROM orders GROUP BY o_custkey
),
cuts AS (
  SELECT quantile_cont(recency_d, [0.2, 0.4, 0.6, 0.8]) AS rc,
         quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS fc,
         quantile_cont(monetary_cents, [0.2, 0.4, 0.6, 0.8]) AS mc
  FROM per_cust
),
scored AS (
  SELECT 1 + CASE WHEN recency_d > rc[1] THEN 1 ELSE 0 END
           + CASE WHEN recency_d > rc[2] THEN 1 ELSE 0 END
           + CASE WHEN recency_d > rc[3] THEN 1 ELSE 0 END
           + CASE WHEN recency_d > rc[4] THEN 1 ELSE 0 END AS r_score,
         1 + CASE WHEN freq > fc[1] THEN 1 ELSE 0 END
           + CASE WHEN freq > fc[2] THEN 1 ELSE 0 END
           + CASE WHEN freq > fc[3] THEN 1 ELSE 0 END
           + CASE WHEN freq > fc[4] THEN 1 ELSE 0 END AS f_score,
         1 + CASE WHEN monetary_cents > mc[1] THEN 1 ELSE 0 END
           + CASE WHEN monetary_cents > mc[2] THEN 1 ELSE 0 END
           + CASE WHEN monetary_cents > mc[3] THEN 1 ELSE 0 END
           + CASE WHEN monetary_cents > mc[4] THEN 1 ELSE 0 END AS m_score,
         monetary_cents
  FROM per_cust, cuts
)
SELECT r_score, f_score, m_score, count(*) AS n_customers,
       CAST(sum(monetary_cents) AS BIGINT) AS segment_cents
FROM scored GROUP BY r_score, f_score, m_score
"""


# --------------------------------------------------------------------
# tf-idf cosine near-dup
# --------------------------------------------------------------------


def q_dedup_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical cosine near-dup: document pairs (same lang) whose
    tf-idf vectors have cosine >= 0.8 — the sparse-vector sibling of
    dedup_embedding_cosine (no embeddings needed) and the weighted
    upgrade of n-gram Jaccard.

    Exactness discipline: per-(doc, word) weights are integer-quantized
    (floor(tf * ln((N+1)/(df+1)) * 1e4 + 0.5)) BEFORE any sum, so
    norms and dot products are exact integer arithmetic — associativity
    cannot drift them; the final cosine is one double expression over
    three exact integers, emitted as ppm.

    Scale: candidate pairs come from a postings join on (lang, word)
    with a document-frequency cap (a word shared by m docs emits m^2
    candidate rows — boilerplate words carry no near-dup signal; the
    cap mirrors ngram_jaccard_pairs' blocking hygiene); the dot
    product is then computed over ALL shared words of each candidate
    pair via a pair-restricted verification join (the
    minhash-verification pattern, operators/dedup.py) — so emitted
    cosines are EXACT full-vector cosines; the cap only bounds which
    pairs are DISCOVERED.  Replayed identically in the oracle."""
    from ..operators.text import words

    max_df = 100
    d = _t(spark, sf_dir, "documents")
    n_docs = d.count()  # tiny action; at scale pass the catalog stat
    tok = d.select(
        "doc_id", "lang", F.explode(words(F.col("text"))).alias("w")
    )
    tf = tok.groupBy("doc_id", "lang", "w").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_ = tf.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("df"))
    weighted = tf.join(df_, ["lang", "w"]).select(
        "doc_id",
        "lang",
        "w",
        "df",
        F.floor(
            F.col("tf")
            * F.log((F.lit(float(n_docs)) + 1) / (F.col("df") + 1))
            * 10000
            + 0.5
        )
        .cast("long")
        .alias("wq"),
    )
    # weighted feeds FOUR differently-keyed consumers (norms, posts,
    # both dot sides) — persist, or the lazy plan re-derives
    # tokenize -> tf -> df-join per consumer (the graph_kcore
    # multiplier class; review r8 round 6)
    weighted = weighted.persist()
    # decimal-exact sums of squared weights: wq can reach ~2e10 on
    # pathological corpora, so a long wq*wq wraps — Spark ANSI throws
    # AND DuckDB overflow-throws on the BIGINT per-row product (only
    # sum() promotes to HUGEINT; verified) — both sides cast the
    # OPERAND first (review r8 round 6)
    norms = weighted.groupBy("doc_id").agg(
        F.sum(
            (F.col("wq").cast("decimal(19,0)") * F.col("wq")).cast(
                "decimal(38,0)"
            )
        ).alias("n2")
    )
    posts = weighted.filter(F.col("df") <= max_df).select(
        "lang", "w", F.col("doc_id").alias("id")
    )
    a = posts.alias("a")
    b = posts.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.w") == F.col("b.w"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    full = weighted.select("doc_id", "w", "wq")
    fa = full.alias("fa")
    fb = full.alias("fb")
    dots = (
        cand.join(fa, cand.id_a == F.col("fa.doc_id"))
        .join(
            fb,
            (cand.id_b == F.col("fb.doc_id"))
            & (F.col("fa.w") == F.col("fb.w")),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(
                (F.col("fa.wq").cast("decimal(19,0)") * F.col("fb.wq")).cast(
                    "decimal(38,0)"
                )
            ).alias("dot")
        )
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("n2").alias("nb2"))
    # zero-norm guard (all-boilerplate docs whose weights quantize to
    # 0): NULL instead of an ANSI divide-by-zero throw; DuckDB's
    # division already yields NULL and both engines' >= filter then
    # drops the pair
    norm_prod = F.sqrt(F.col("na2").cast("double")) * F.sqrt(
        F.col("nb2").cast("double")
    )
    cos_ppm = F.floor(
        F.when(norm_prod > 0, F.col("dot").cast("double") / norm_prod)
        * 1000000
        + 0.5
    ).cast("long")
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", cos_ppm.alias("cos_ppm"))
        .filter(F.col("cos_ppm") >= 800000)
    )


SQL_DEDUP_TFIDF_COSINE = """
WITH tok AS (
  SELECT doc_id, lang, unnest(list_filter(
           regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS w
  FROM documents
),
tf AS (
  SELECT doc_id, lang, w, count(*) AS tf FROM tok GROUP BY doc_id, lang, w
),
dfx AS (SELECT lang, w, count(*) AS df FROM tf GROUP BY lang, w),
nd AS (SELECT count(*) AS n_docs FROM documents),
weighted AS (
  SELECT doc_id, tf.lang, tf.w, df,
         CAST(floor(tf * ln((CAST(n_docs AS DOUBLE) + 1) / (df + 1)) * 10000
                    + 0.5) AS BIGINT) AS wq
  FROM tf JOIN dfx USING (lang, w), nd
),
-- OPERAND HUGEINT casts: DuckDB overflow-THROWS on the BIGINT
-- per-row product (verified; only sum() promotes) — review r8 r6
norms AS (SELECT doc_id, sum(CAST(wq AS HUGEINT) * wq) AS n2
          FROM weighted GROUP BY doc_id),
posts AS (
  SELECT lang, w, doc_id AS id FROM weighted WHERE df <= 100
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM posts a JOIN posts b
    ON a.lang = b.lang AND a.w = b.w AND a.id < b.id
),
dots AS (
  SELECT id_a, id_b, sum(CAST(fa.wq AS HUGEINT) * fb.wq) AS dot
  FROM cand
  JOIN weighted fa ON fa.doc_id = cand.id_a
  JOIN weighted fb ON fb.doc_id = cand.id_b AND fa.w = fb.w
  GROUP BY id_a, id_b
)
SELECT id_a, id_b,
       CAST(floor(CAST(dot AS DOUBLE)
                  / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
                  * 1000000 + 0.5) AS BIGINT) AS cos_ppm
FROM dots JOIN norms na ON na.doc_id = id_a
          JOIN norms nb ON nb.doc_id = id_b
WHERE CAST(floor(CAST(dot AS DOUBLE)
                 / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
                 * 1000000 + 0.5) AS BIGINT) >= 800000
"""



# --------------------------------------------------------------------
# class-balanced downsampling
# --------------------------------------------------------------------


def q_sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling over the labeled embedding table:
    every label keeps exactly min-class-size rows, chosen in portable
    md5-hash order — the deterministic rebalancer for a skewed
    training set (contrast sample_reservoir_group: fixed k; here the
    budget is data-dependent).

    Scale: one per-label count aggregate, the 1-row min broadcast
    back, one window per label in hash order — no global sort; re-runs
    are stable under any partitioning."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    kmin = e.groupBy("label").agg(F.count(F.lit(1)).alias("n")).agg(
        F.min("n").alias("kmin")
    )
    hv = md5_long(F.concat(F.col("vec_id").cast("string"), F.lit("|bal42")))
    w = Window.partitionBy("label").orderBy(hv.asc(), F.col("vec_id").asc())
    return (
        e.withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(kmin))
        .filter(F.col("rk") <= F.col("kmin"))
        .select(
            "label",
            F.col("rk").cast("long").alias("rk"),
            "vec_id",
        )
    )


SQL_SAMPLE_BALANCED_CLASSES = """
WITH e AS (SELECT vec_id, label FROM embeddings),
kmin AS (
  SELECT min(n) AS kmin FROM (SELECT label, count(*) AS n FROM e GROUP BY label)
),
r AS (
  SELECT label, vec_id,
         row_number() OVER (
           PARTITION BY label
           ORDER BY CAST(concat('0x', substr(md5(vec_id || '|bal42'), 1, 15))
                         AS BIGINT),
                    vec_id) AS rk
  FROM e
)
SELECT label, CAST(rk AS BIGINT) AS rk, vec_id
FROM r, kmin WHERE rk <= kmin
"""


# --------------------------------------------------------------------
# label-separation diagnostics
# --------------------------------------------------------------------


def q_embed_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space class diagnostics: per label, the mean cosine
    of members to their label centroid (cohesion) and the cosine of
    the label centroid to the GLOBAL centroid (separation proxy) —
    the pre-training sanity check that labels occupy distinct
    directions (a label whose centroid hugs the global centroid
    carries no signal).

    Determinism (the embed_centroid_outliers recipe): per-dim means
    from exact integer sums on a 1e-6 grid, member cosines snapped to
    a 1e-4 grid, cohesion as an exact integer mean (ppm via div) —
    the only doubles are identical divisions on both engines.

    Scale: one (label, dim) aggregate (rows = labels x dims),
    centroids broadcast back as a small dimension; one 1-row global
    centroid cross (pinned)."""
    from ..functions.vectors import as_double_array, cosine

    e = _t(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id", "label", as_double_array(F.col("embedding")).alias("v")
    )
    grid = v.select(
        "label", F.posexplode("v").alias("pos", "x")
    ).select(
        "label", "pos", F.floor(F.col("x") * 1e6 + 0.5).cast("long").alias("g6")
    )
    label_dims = grid.groupBy("label", "pos").agg(
        F.sum("g6").alias("s6"), F.count(F.lit(1)).alias("n")
    )
    label_cent = label_dims.groupBy("label").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("pos", (F.col("s6") / F.col("n") / 1e6).alias("m"))
                )
            ),
            lambda r: r["m"],
        ).alias("lcv")
    )
    global_cent = label_dims.groupBy("pos").agg(
        F.sum("s6").alias("s6"), F.sum("n").alias("n")
    ).groupBy().agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("pos", (F.col("s6") / F.col("n") / 1e6).alias("m"))
                )
            ),
            lambda r: r["m"],
        ).alias("gcv")
    )
    member_sims = v.join(F.broadcast(label_cent), "label").select(
        "label",
        F.floor(cosine(F.col("v"), F.col("lcv")) * 10000 + 0.5)
        .cast("long")
        .alias("s4"),
    )
    cohesion = member_sims.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_members"),
        # mirrored double floor: long sum(s4)*100 wraps past ~9.2e12
        # members while the twin's HUGEINT would not
        F.floor(
            F.sum("s4").cast("double") * 100.0 / F.count(F.lit(1))
        )
        .cast("long")
        .alias("cohesion_ppm"),
    )
    separation = label_cent.crossJoin(F.broadcast(global_cent)).select(
        "label",
        F.floor(cosine(F.col("lcv"), F.col("gcv")) * 10000 + 0.5)
        .cast("long")
        .alias("sep_s4"),
    )
    return cohesion.join(separation, "label").select(
        "label", "n_members", "cohesion_ppm",
        (F.col("sep_s4") * 100).alias("centroid_vs_global_ppm"),
    )


SQL_EMBED_LABEL_SEPARATION = """
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
grid AS (
  SELECT label, generate_subscripts(v, 1) - 1 AS pos,
         CAST(floor(unnest(v) * 1e6 + 0.5) AS BIGINT) AS g6
  FROM v
),
label_dims AS (
  SELECT label, pos, sum(g6) AS s6, count(*) AS n
  FROM grid GROUP BY label, pos
),
label_cent AS (
  SELECT label,
         list(CAST(s6 AS DOUBLE) / n / 1e6 ORDER BY pos) AS lcv
  FROM label_dims GROUP BY label
),
global_cent AS (
  SELECT list(CAST(s6 AS DOUBLE) / n / 1e6 ORDER BY pos) AS gcv
  FROM (SELECT pos, sum(s6) AS s6, sum(n) AS n
        FROM label_dims GROUP BY pos)
),
member_sims AS (
  SELECT v.label,
         CAST(floor(list_cosine_similarity(v.v, lcv) * 10000 + 0.5)
              AS BIGINT) AS s4
  FROM v JOIN label_cent USING (label)
),
cohesion AS (
  SELECT label, count(*) AS n_members,
         CAST(floor(CAST(sum(s4) AS DOUBLE) * 100.0 / count(*)) AS BIGINT)
             AS cohesion_ppm
  FROM member_sims GROUP BY label
),
separation AS (
  SELECT label,
         CAST(floor(list_cosine_similarity(lcv, gcv) * 10000 + 0.5)
              AS BIGINT) AS sep_s4
  FROM label_cent, global_cent
)
SELECT label, n_members, cohesion_ppm,
       CAST(sep_s4 * 100 AS BIGINT) AS centroid_vs_global_ppm
FROM cohesion JOIN separation USING (label)
"""



# --------------------------------------------------------------------
# cohort lifetime value
# --------------------------------------------------------------------


def q_orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly-cohort lifetime value: customers grouped by first-order
    month; per (cohort, months-since-first) the cumulative revenue per
    cohort member so far — the monetary twin of the retention cohort
    query (events_retention_cohorts tracks who comes back; this tracks
    what they spend).

    Scale: per-customer first-month via one aggregate (no window over
    raw orders), join back on custkey (co-partitioned), monthly rollup,
    then ONE cumulative window per cohort over month offsets —
    months-per-cohort bounds every frame.  Money in integer cents;
    per-member LTV via integer div."""
    o = _t(spark, sf_dir, "orders")
    om = o.select(
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    first = om.groupBy("o_custkey").agg(F.min("ym").alias("cohort"))
    sized = first.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    joined = om.join(first, "o_custkey")
    monthly = joined.groupBy("cohort", "ym").agg(
        F.sum("cents").alias("rev_cents")
    )
    # month offset = (year*12+month) delta — integer arithmetic on the
    # yyyy-MM key, no date parsing ambiguity
    def months(col):
        return (
            F.substring(col, 1, 4).cast("long") * 12
            + F.substring(col, 6, 2).cast("long")
        )

    w = (
        Window.partitionBy("cohort")
        .orderBy("ym")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        monthly.withColumn(
            "month_offset", months(F.col("ym")) - months(F.col("cohort"))
        )
        .withColumn("cum_cents", F.sum("rev_cents").over(w))
        .join(F.broadcast(sized), "cohort")
        .select(
            "cohort",
            "month_offset",
            "cum_cents",
            "cohort_size",
            F.expr("cum_cents div cohort_size").alias("ltv_cents_per_member"),
        )
    )


SQL_ORDERS_COHORT_LTV = """
WITH om AS (
  SELECT o_custkey, strftime(o_orderdate, '%Y-%m') AS ym,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
first AS (SELECT o_custkey, min(ym) AS cohort FROM om GROUP BY o_custkey),
sized AS (SELECT cohort, count(*) AS cohort_size FROM first GROUP BY cohort),
monthly AS (
  SELECT cohort, ym, CAST(sum(cents) AS BIGINT) AS rev_cents
  FROM om JOIN first USING (o_custkey)
  GROUP BY cohort, ym
),
cum AS (
  SELECT cohort, ym, rev_cents,
         (CAST(substr(ym, 1, 4) AS BIGINT) * 12
            + CAST(substr(ym, 6, 2) AS BIGINT))
         - (CAST(substr(cohort, 1, 4) AS BIGINT) * 12
            + CAST(substr(cohort, 6, 2) AS BIGINT)) AS month_offset,
         CAST(sum(rev_cents) OVER (
           PARTITION BY cohort ORDER BY ym
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_cents
  FROM monthly
)
SELECT cohort, month_offset, cum_cents, cohort_size,
       cum_cents // cohort_size AS ltv_cents_per_member
FROM cum JOIN sized USING (cohort)
"""


# --------------------------------------------------------------------
# deterministic A/B bucketing + sample-ratio-mismatch check
# --------------------------------------------------------------------

# THE shared experiment hash split (review r8: one definition instead
# of per-module copies — warehouse25's CUPED/MDE/DiD reuse these).
# Portable md5 bucket 0..999 of user_id with the '|exp1' salt,
# identical on both engines (docs/PARITY.md #15).


def ab_bucket_col() -> Column:
    """user_id -> deterministic experiment bucket 0..999 (Column)."""
    return F.pmod(
        md5_long(F.concat(F.col("user_id").cast("string"), F.lit("|exp1"))),
        F.lit(1000),
    )


SQL_AB_BUCKET = (
    "CAST(concat('0x', substr(md5(user_id || '|exp1'), 1, 15)) "
    "AS BIGINT) % 1000"
)


def q_events_ab_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic experiment assignment + health check: users
    hash-bucket 50/50 into control/treatment (portable md5 — stable
    across runs, engines and cluster sizes), per-variant conversion
    (purchase share) in ppm, plus the sample-ratio-mismatch chi-square
    (ppm) every A/B platform alarms on before reading the metric.

    Scale: assignment is map-side; one per-variant aggregate; the SRM
    statistic folds from the two variant counts in one closed-form
    double expression."""
    ev = _t(spark, sf_dir, "events")
    bucket = ab_bucket_col()
    assigned = ev.select(
        F.when(bucket < 500, F.lit("control")).otherwise(F.lit("treatment")).alias(
            "variant"
        ),
        # when/otherwise(0), not a bool cast (round-6 NULL trap —
        # value-equal today since sum skips NULLs, explicit anyway)
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("converted"),
        "user_id",
    )
    per_variant = assigned.groupBy("variant").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("converted").alias("n_purchases"),
    )
    one = per_variant.groupBy().agg(
        F.max(F.when(F.col("variant") == "control", F.col("n_users"))).alias("nc"),
        F.max(F.when(F.col("variant") == "treatment", F.col("n_users"))).alias(
            "nt"
        ),
    )
    # SRM chi-square vs the expected 50/50 user split
    exp = (F.col("nc") + F.col("nt")) / 2.0
    srm = F.floor(
        (
            F.pow(F.col("nc") - exp, F.lit(2.0)) / exp
            + F.pow(F.col("nt") - exp, F.lit(2.0)) / exp
        )
        * 1000000
        + 0.5
    ).cast("long")
    return (
        per_variant.crossJoin(F.broadcast(one.select(srm.alias("srm_chi2_ppm"))))
        .select(
            "variant",
            "n_users",
            "n_events",
            # mirrored double floor: an integer n_purchases * 1e6
            # wraps past ~9.2e12 purchases (ANSI throw) while the
            # twin's HUGEINT would not
            F.floor(
                F.col("n_purchases") * F.lit(1000000.0) / F.col("n_events")
            )
            .cast("long")
            .alias("conversion_ppm"),
            "srm_chi2_ppm",
        )
    )


SQL_EVENTS_AB_BUCKETING = f"""
WITH assigned AS (
  SELECT CASE WHEN {SQL_AB_BUCKET} < 500
              THEN 'control' ELSE 'treatment' END AS variant,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS converted,
         user_id
  FROM events
),
per_variant AS (
  SELECT variant, count(DISTINCT user_id) AS n_users, count(*) AS n_events,
         sum(converted) AS n_purchases
  FROM assigned GROUP BY variant
),
one AS (
  SELECT max(CASE WHEN variant = 'control' THEN n_users END) AS nc,
         max(CASE WHEN variant = 'treatment' THEN n_users END) AS nt
  FROM per_variant
),
srm AS (
  SELECT CAST(floor(
           (power(nc - (nc + nt) / 2.0, 2) / ((nc + nt) / 2.0)
            + power(nt - (nc + nt) / 2.0, 2) / ((nc + nt) / 2.0))
           * 1000000 + 0.5) AS BIGINT) AS srm_chi2_ppm
  FROM one
)
SELECT variant, n_users, n_events,
       CAST(floor(CAST(n_purchases AS DOUBLE) * 1000000.0 / n_events)
            AS BIGINT) AS conversion_ppm,
       srm_chi2_ppm
FROM per_variant, srm
"""



# --------------------------------------------------------------------
# temporal holdout split with entity-leakage audit
# --------------------------------------------------------------------


def q_split_time_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split (train < 2024-01-24 <= test) with the
    entity-leakage audit a time-split must ship with: how many USERS
    appear on both sides (their test rows are not independent of
    training — the temporal analog of split_leakage_safe's
    fingerprint-straddle audit).

    Scale: the split predicate is map-side (pushed to the scan); the
    audit is one per-user two-sided aggregate + a 1-row count
    broadcast onto the two summary rows."""
    ev = _t(spark, sf_dir, "events")
    cutoff = "2024-01-24"
    side = F.when(F.col("ts") < F.lit(cutoff).cast("timestamp"), "train").otherwise(
        "test"
    )
    tagged = ev.select(side.alias("split"), "user_id")
    per_side = tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )
    straddle = (
        tagged.groupBy("user_id")
        .agg(F.count_distinct("split").alias("n_sides"))
        .filter(F.col("n_sides") == 2)
        .agg(F.count(F.lit(1)).alias("leaked_users"))
    )
    return per_side.crossJoin(F.broadcast(straddle)).select(
        "split", "n_events", "n_users", "leaked_users"
    )


SQL_SPLIT_TIME_HOLDOUT = """
WITH tagged AS (
  SELECT CASE WHEN ts < TIMESTAMP '2024-01-24' THEN 'train' ELSE 'test' END
           AS split,
         user_id
  FROM events
),
per_side AS (
  SELECT split, count(*) AS n_events,
         count(DISTINCT user_id) AS n_users
  FROM tagged GROUP BY split
),
straddle AS (
  SELECT count(*) AS leaked_users FROM (
    SELECT user_id FROM tagged GROUP BY user_id
    HAVING count(DISTINCT split) = 2
  )
)
SELECT split, n_events, n_users, CAST(leaked_users AS BIGINT) AS leaked_users
FROM per_side, straddle
"""



# --------------------------------------------------------------------
# image tiling plan (ViT patch grid)
# --------------------------------------------------------------------


def q_multimodal_tiles_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image tiling plan: expand (doc_id, width, height) into one row
    per 32x32 patch — the ViT-preprocessing twin of the video frame
    and audio window plans; pure double sequence+explode, the pixel
    decode stays behind the stubbed codec.  Partial edge tiles are
    dropped (floor grid), matching center-crop preprocessing.
    Dimensions derive deterministically from doc_id so the oracle
    replays them."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    media = d.select(
        "doc_id",
        ((F.col("doc_id") % 7) * 40 + 64).cast("long").alias("width"),
        ((F.col("doc_id") % 5) * 40 + 64).cast("long").alias("height"),
    )
    tile = 32
    nx = F.expr(f"width div {tile}")
    ny = F.expr(f"height div {tile}")
    return (
        media.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), nx - 1)).alias("tile_x"),
            ny.alias("__ny"),
        )
        .select(
            "doc_id",
            "tile_x",
            F.explode(F.sequence(F.lit(0), F.col("__ny") - 1)).alias("tile_y"),
        )
        .select(
            "doc_id",
            "tile_x",
            "tile_y",
            (F.col("tile_x") * tile).alias("px"),
            (F.col("tile_y") * tile).alias("py"),
        )
    )


SQL_MULTIMODAL_TILES_PLAN = """
WITH media AS (
  SELECT doc_id, (doc_id % 7) * 40 + 64 AS width,
         (doc_id % 5) * 40 + 64 AS height
  FROM documents WHERE doc_id % 4 = 0
),
tx AS (
  SELECT doc_id, height, unnest(range(0, width // 32)) AS tile_x
  FROM media
)
SELECT doc_id, tile_x, unnest(range(0, height // 32)) AS tile_y,
       tile_x * 32 AS px, unnest(range(0, height // 32)) * 32 AS py
FROM tx
"""


# --------------------------------------------------------------------
# winnowing fingerprints (MOSS-style)
# --------------------------------------------------------------------


def q_dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm): hash
    every word 5-gram, slide a window of 4 consecutive hashes, keep
    each window's MINIMUM — the selected fingerprints are guaranteed
    to include at least one hash from every 4-gram-of-5-grams span,
    so any sufficiently long shared passage shares a fingerprint.
    Docs are then paired by shared (lang, fingerprint) with a
    document-frequency cap (the ngram_jaccard blocking hygiene) and
    scored by shared-fingerprint count.

    Portable hashes (md5-derived) so the whole mechanism — selection
    minima included — replays exactly in the oracle.

    Scale: everything up to the fingerprint set is map-side array
    HOFs (shingle hashes, window minima via slice+array_min); one
    distinct per (doc, fingerprint), one capped self-join on the
    fingerprint key — the same posting-join shape as the other
    blocked dedups."""
    from ..operators.text import words

    window = 4
    d = _t(spark, sf_dir, "documents")
    ws = d.select("doc_id", "lang", words(F.col("text")).alias("ws")).filter(
        F.size("ws") >= 5 + window - 1
    )
    grams = ws.select(
        "doc_id",
        "lang",
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - 4),
            lambda i: md5_long(
                F.concat_ws(
                    " ",
                    F.element_at(F.col("ws"), i),
                    F.element_at(F.col("ws"), i + 1),
                    F.element_at(F.col("ws"), i + 2),
                    F.element_at(F.col("ws"), i + 3),
                    F.element_at(F.col("ws"), i + 4),
                )
            ),
        ).alias("hs"),
    )
    fps = grams.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("hs") - (window - 1)),
                lambda i: F.array_min(F.slice(F.col("hs"), i, window)),
            )
        ).alias("fp"),
    ).distinct()
    # fps (the expensive map-side md5 + window-minimum chain) feeds
    # three consumers (df_ build + the posts frame under both
    # self-join sides) — persist so the fingerprint HOFs
    # run once over the corpus (review r8 round 6)
    fps = fps.persist()
    df_ = fps.groupBy("lang", "fp").agg(F.count(F.lit(1)).alias("df"))
    posts = fps.join(df_.filter(F.col("df") <= 50), ["lang", "fp"]).select(
        "lang", "fp", F.col("doc_id").alias("id")
    )
    a = posts.alias("a")
    b = posts.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= 3)
    )


SQL_DEDUP_WINNOWING = """
WITH ws AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     x -> x <> '') AS ws
  FROM documents
),
ok AS (SELECT * FROM ws WHERE len(ws) >= 8),
grams AS (
  SELECT doc_id, lang,
         list_transform(range(1, len(ws) - 3),
           i -> CAST(concat('0x', substr(md5(
                  ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                  || ws[i+3] || ' ' || ws[i+4]), 1, 15)) AS BIGINT)) AS hs
  FROM ok
),
fps AS (
  SELECT DISTINCT doc_id, lang,
         unnest(list_transform(range(1, len(hs) - 2),
                               i -> list_min(hs[i:i+3]))) AS fp
  FROM grams
),
dfx AS (SELECT lang, fp, count(*) AS df FROM fps GROUP BY lang, fp),
posts AS (
  SELECT fps.lang, fps.fp, doc_id AS id
  FROM fps JOIN dfx ON fps.lang = dfx.lang AND fps.fp = dfx.fp
  WHERE df <= 50
)
SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared_fps
FROM posts a JOIN posts b
  ON a.lang = b.lang AND a.fp = b.fp AND a.id < b.id
GROUP BY a.id, b.id
HAVING count(*) >= 3
"""



QUERIES: dict[str, QuerySpec] = {
    "join_interval_overlap": QuerySpec(
        q_join_interval_overlap, SQL_JOIN_INTERVAL_OVERLAP
    ),
    "events_interval_union": QuerySpec(
        q_events_interval_union, SQL_EVENTS_INTERVAL_UNION
    ),
    "agg_mode": QuerySpec(q_agg_mode, SQL_AGG_MODE),
    "join_bloom_pruned": QuerySpec(q_join_bloom_pruned, SQL_JOIN_BLOOM_PRUNED),
    "agg_salted_twophase": QuerySpec(
        q_agg_salted_twophase, SQL_AGG_SALTED_TWOPHASE
    ),
    "sample_reservoir_group": QuerySpec(
        q_sample_reservoir_group, SQL_SAMPLE_RESERVOIR_GROUP
    ),
    "window_time_range_rolling": QuerySpec(
        q_window_time_range_rolling, SQL_WINDOW_TIME_RANGE_ROLLING
    ),
    "text_rake_keywords": QuerySpec(q_text_rake_keywords, SQL_TEXT_RAKE_KEYWORDS),
    "multimodal_audio_plan": QuerySpec(
        q_multimodal_audio_plan, SQL_MULTIMODAL_AUDIO_PLAN
    ),
    "text_bpe_pair_merges": QuerySpec(
        q_text_bpe_pair_merges, SQL_TEXT_BPE_PAIR_MERGES
    ),
    "sample_kcenter_coreset": QuerySpec(
        q_sample_kcenter_coreset, SQL_SAMPLE_KCENTER_CORESET
    ),
    "orders_rfm_segments": QuerySpec(
        q_orders_rfm_segments, SQL_ORDERS_RFM_SEGMENTS
    ),
    "dedup_tfidf_cosine": QuerySpec(
        q_dedup_tfidf_cosine, SQL_DEDUP_TFIDF_COSINE
    ),
    "sample_balanced_classes": QuerySpec(
        q_sample_balanced_classes, SQL_SAMPLE_BALANCED_CLASSES
    ),
    "embed_label_separation": QuerySpec(
        q_embed_label_separation, SQL_EMBED_LABEL_SEPARATION
    ),
    "orders_cohort_ltv": QuerySpec(q_orders_cohort_ltv, SQL_ORDERS_COHORT_LTV),
    "events_ab_bucketing": QuerySpec(
        q_events_ab_bucketing, SQL_EVENTS_AB_BUCKETING
    ),
    "split_time_holdout": QuerySpec(
        q_split_time_holdout, SQL_SPLIT_TIME_HOLDOUT
    ),
    "multimodal_tiles_plan": QuerySpec(
        q_multimodal_tiles_plan, SQL_MULTIMODAL_TILES_PLAN
    ),
    "dedup_winnowing": QuerySpec(q_dedup_winnowing, SQL_DEDUP_WINNOWING),
}
