"""Round-6 batch 18: forecast backtesting, local-bridge detection,
deterministic augmentation planning, and code-vs-prose detection.

Why these belong in a 100 TB training-data engine:

* ``events_forecast_backtest`` — rolling-origin backtesting of the
  seasonal-naive forecast (predict day d with day d-7) is the
  baseline every fancier forecaster must beat, and the honest way to
  report forecast quality: per-type MAE over the spine, computed as
  one self-join on the bounded (type, day) aggregate.
* ``graph_local_bridges`` — edges with NO common neighbor are local
  bridges: cut points of community structure and the first thing a
  graph-cleaning pass inspects.  Falls out of the existing wedge
  machinery (shared pruned co-purchase edges) with one anti-join.
* ``multimodal_augmentation_plan`` — training-data augmentation must
  be DETERMINISTIC to be reproducible; deriving flip/crop/rotation/
  brightness from the md5-60bit of the sample id gives every engine
  and every retry the same plan.  Pure map-side integer arithmetic.
* ``text_code_detection`` — separating code from prose is a stock
  corpus-routing step (code goes to code-model training, prose to
  LM).  The score is integer-only (symbol counts scaled by length +
  keyword hits), so there is no float parity surface at all.

Engine-parity notes: everything here is integer arithmetic except
the backtest MAE, which floors a double built from EXACT integer
sums; ``translate``-based symbol counting behaves identically on
both engines; md5-60bit params use truncating DIV/%% on
non-negative hashes.

Reference scope note: the reference engine (scanner.py:120-175) has
no analytics surface; these extend SURVEY.md §2.B's warehouse /
graph / multimodal / text categories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from . import QuerySpec, load_tuned
from .warehouse2 import (
    _SQL_EDGES_CTE,
    SQL_DAY_SPINE_CTE,
    _copurchase_edges,
)

_t = load_tuned


# --------------------------------------------------------------------
# seasonal-naive forecast backtest (rolling origin, lag-7 predictor)
# --------------------------------------------------------------------

_FB_LAG = 7


def q_events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecaster (predict day d's
    event count with day d-7's) per event type over the zero-filled
    day spine: per-type n_days evaluated, total absolute error, and
    MAE in milli-events.

    Scale: raw events collapse to the (type, day) spine immediately;
    the predictor is a self-join of that bounded frame on (type,
    day-7); the MAE floors a double built from exact integer sums."""
    from .warehouse2 import filled_day_spine

    filled = filled_day_spine(spark, sf_dir)
    pred = filled.select(
        "event_type",
        F.date_add("day", _FB_LAG).alias("day"),
        F.col("cnt").alias("pred"),
    )
    scored = filled.join(pred, ["event_type", "day"]).select(
        "event_type",
        F.abs(F.col("cnt") - F.col("pred")).alias("abs_err"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("abs_err").alias("total_abs_err"),
        )
        .select(
            "event_type",
            "n_days",
            "total_abs_err",
            F.floor(
                F.col("total_abs_err").cast("double")
                * 1000.0
                / F.col("n_days").cast("double")
            )
            .cast("bigint")
            .alias("mae_milli"),
        )
        .orderBy("event_type")
    )


SQL_EVENTS_FORECAST_BACKTEST = f"""
WITH {SQL_DAY_SPINE_CTE},
scored AS (
  SELECT a.event_type, abs(a.cnt - p.cnt) AS abs_err
  FROM filled a JOIN filled p
    ON p.event_type = a.event_type AND p.day = a.day - {_FB_LAG}
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(abs_err) AS BIGINT) AS total_abs_err,
       CAST(floor(CAST(sum(abs_err) AS DOUBLE) * 1000.0
                  / CAST(count(*) AS DOUBLE)) AS BIGINT) AS mae_milli
FROM scored GROUP BY 1 ORDER BY event_type
"""


# --------------------------------------------------------------------
# local bridges (edges with no common neighbor)
# --------------------------------------------------------------------


def q_graph_local_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edges of the co-purchase graph whose endpoints share NO common
    neighbor (local bridges — removing one disconnects its endpoints
    locally); first 50 by (pa, pb).

    Scale: reuses the SAME support-pruned persisted edge frame as
    triangle counting / link prediction; the common-neighbor pair
    set comes from the bounded wedge enumeration, and bridges are
    one anti-join against it."""
    edges = _copurchase_edges(spark, sf_dir)
    und = edges.union(
        edges.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"))
    )
    w1, w2 = und.alias("w1"), und.alias("w2")
    closed = (
        w1.join(w2, F.col("w1.pb") == F.col("w2.pa"))
        .filter(F.col("w1.pa") < F.col("w2.pb"))
        .select(
            F.col("w1.pa").alias("pa"), F.col("w2.pb").alias("pb")
        )
        .distinct()
    )
    return (
        edges.join(closed, ["pa", "pb"], "left_anti")
        .orderBy("pa", "pb")
        .limit(50)
    )


SQL_GRAPH_LOCAL_BRIDGES = f"""
WITH {_SQL_EDGES_CTE},
und AS (
  SELECT pa, pb FROM edges
  UNION ALL
  SELECT pb AS pa, pa AS pb FROM edges
),
closed AS (
  SELECT DISTINCT w1.pa AS pa, w2.pb AS pb
  FROM und w1 JOIN und w2 ON w1.pb = w2.pa
  WHERE w1.pa < w2.pb
)
SELECT e.pa, e.pb
FROM edges e
ANTI JOIN closed c ON c.pa = e.pa AND c.pb = e.pb
ORDER BY pa, pb LIMIT 50
"""


# --------------------------------------------------------------------
# deterministic augmentation plan (md5-derived parameters)
# --------------------------------------------------------------------


def q_multimodal_augmentation_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reproducible per-sample augmentation parameters derived from
    the md5-60bit of the sample id: horizontal flip bit, 32x32 crop
    offsets, rotation in {0, 90, 180, 270} and a brightness factor in
    [0.9, 1.1) ppm — the same plan on every engine, every retry,
    every re-partitioning.

    Scale: pure map-side integer arithmetic on non-negative hashes —
    zero shuffles at any corpus size (the presentation sort is the
    only exchange)."""
    h = md5_long(F.col("vec_id").cast("string"))
    return (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", h.alias("h"))
        .select(
            "vec_id",
            (F.col("h") % 2).cast("int").alias("flip"),
            F.expr("CAST((h DIV 2) % 32 AS INT)").alias("crop_x"),
            F.expr("CAST((h DIV 64) % 32 AS INT)").alias("crop_y"),
            F.expr("CAST(((h DIV 2048) % 4) * 90 AS INT)").alias(
                "rotation_deg"
            ),
            F.expr(
                "CAST(900000 + (h DIV 8192) % 200000 AS BIGINT)"
            ).alias("brightness_ppm"),
        )
        .orderBy("vec_id")
    )


SQL_MULTIMODAL_AUGMENTATION_PLAN = """
WITH hashed AS (
  SELECT vec_id,
         CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM embeddings
)
SELECT vec_id,
       CAST(h % 2 AS INT) AS flip,
       CAST((h // 2) % 32 AS INT) AS crop_x,
       CAST((h // 64) % 32 AS INT) AS crop_y,
       CAST(((h // 2048) % 4) * 90 AS INT) AS rotation_deg,
       CAST(900000 + (h // 8192) % 200000 AS BIGINT) AS brightness_ppm
FROM hashed ORDER BY vec_id
"""


# --------------------------------------------------------------------
# code-vs-prose detection (integer-only scoring)
# --------------------------------------------------------------------

_CODE_SYMS = "{}();=[]<>#"
_CODE_KW_RE = (
    r"\b(def|class|return|import|void|int|function|var|const|if|else"
    r"|for|while)\b"
)
_CODE_THRESHOLD_PPM = 30_000


def q_text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing signal per document: symbol density
    (translate-based count of {}();=[]<># per char, ppm) plus a
    keyword-hit bonus; is_code when the combined score passes 3%.

    Scale: two map-side expressions (one translate, one regex count)
    and no shuffle but the presentation sort.  The score is INTEGER
    ppm end-to-end — no float parity surface."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    n_chars = F.length("text")
    n_syms = n_chars - F.length(F.translate("text", _CODE_SYMS, ""))
    n_kw = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(_CODE_KW_RE), 0)
    )
    score = F.expr(
        "CAST((n_syms * 1000000) DIV (n_chars_ + 1) + n_kw * 10000"
        " AS BIGINT)"
    )
    return (
        docs.withColumn("n_chars_", n_chars.cast("bigint"))
        .withColumn("n_syms", n_syms.cast("bigint"))
        .withColumn("n_kw", n_kw.cast("bigint"))
        .withColumn("code_score_ppm", score)
        .select(
            "doc_id",
            "n_syms",
            "n_kw",
            "code_score_ppm",
            (F.col("code_score_ppm") >= _CODE_THRESHOLD_PPM).alias(
                "is_code"
            ),
        )
        .orderBy("doc_id")
    )


SQL_TEXT_CODE_DETECTION = f"""
WITH scored AS (
  SELECT doc_id,
         CAST(length(text)
              - length(translate(text, '{{}}();=[]<>#', '')) AS BIGINT)
           AS n_syms,
         CAST(length(regexp_extract_all(lower(text),
                '{_CODE_KW_RE.replace("'", "''")}')) AS BIGINT) AS n_kw,
         CAST(length(text) AS BIGINT) AS n_chars_
  FROM documents
)
SELECT doc_id, n_syms, n_kw,
       CAST((n_syms * 1000000) // (n_chars_ + 1) + n_kw * 10000
            AS BIGINT) AS code_score_ppm,
       ((n_syms * 1000000) // (n_chars_ + 1) + n_kw * 10000)
         >= {_CODE_THRESHOLD_PPM} AS is_code
FROM scored ORDER BY doc_id
"""


QUERIES: dict[str, QuerySpec] = {
    "events_forecast_backtest": QuerySpec(
        q_events_forecast_backtest, SQL_EVENTS_FORECAST_BACKTEST
    ),
    "graph_local_bridges": QuerySpec(
        q_graph_local_bridges, SQL_GRAPH_LOCAL_BRIDGES
    ),
    "multimodal_augmentation_plan": QuerySpec(
        q_multimodal_augmentation_plan, SQL_MULTIMODAL_AUGMENTATION_PLAN
    ),
    "text_code_detection": QuerySpec(
        q_text_code_detection, SQL_TEXT_CODE_DETECTION
    ),
}
