"""Round-6 batch 21: the composed corpus-prep pipeline v2 and a
one-row dataset card.

Why these belong in a 100 TB training-data engine:

* ``llm_prep_pipeline_v2`` — the round-6 operators composed into one
  auditable prep run: length gate -> language gate -> survivor-aware
  exact dedup -> Efraimidis-Spirakis length-weighted sampling to a
  200-doc budget -> per-source shard assignment; reported as the
  stage-count funnel every corpus release note publishes.  Each
  stage reuses the registry's proven mechanics (the funnel's
  keep-first window, the ES key, the shard cumsum) — this query
  proves they compose.
* ``profile_dataset_card`` — the one-row "dataset card" summary
  (docs, sources, langs, token mass, length p50/mean, exact-dup
  rate) that heads every dataset release.  One pass plus two
  distinct aggregates; the dup rate counts distinct text hashes.

Engine-parity notes: stage counts and the card ride exact integers;
mean/percentile floors use the shared double-first chain and the
verified percentile == quantile_cont identity; the ES key is the
same md5-over-2^60 ln chain as ``sample_gumbel_topk``.

Reference scope note: the reference engine (scanner.py:120-175) has
no analytics surface; extends SURVEY.md §2.B's LLM-pipeline
category.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import QuerySpec, load_tuned

_t = load_tuned

_V2_MIN_CHARS = 100
_V2_LANGS = ("en", "de", "fr", "es")
_V2_SAMPLE_K = 200
_V2_SHARD_BYTES = 2000
_HEX15 = "1152921504606846976"  # 2^60


def q_llm_prep_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-count funnel of the composed prep pipeline: raw ->
    length gate -> language gate -> survivor-aware exact dedup ->
    ES length-weighted 200-doc sample -> per-source 2 KB shards.

    Scale: gates are map-side; dedup is one hash-partitioned
    keep-first window over gate survivors; the sample is a
    TakeOrderedAndProject over the ES key; shard assignment is a
    source-partitioned cumsum over the 200 sampled rows.  The output
    is six rows."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars", F.md5("text").alias("th")
    )
    gated = docs.withColumn(
        "len_ok", (F.col("n_chars") >= _V2_MIN_CHARS).cast("int")
    ).withColumn(
        "lang_ok",
        F.when(F.col("lang").isin(*_V2_LANGS), 1).otherwise(0),
    )

    wdup = Window.partitionBy("th").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    surv = gated.withColumn(
        "surv_rank",
        F.sum(F.col("len_ok") * F.col("lang_ok")).over(wdup),
    ).withColumn(
        "dedup_ok",
        (
            (F.col("len_ok") == 1)
            & (F.col("lang_ok") == 1)
            & (F.col("surv_rank") == 1)
        ).cast("int"),
    )
    # surv feeds the dedup count + the sample; sampled feeds the
    # sample count + the shard count — persist both (released
    # by bench/check_oracle) so the documents scan and the
    # md5 window run once, not ~4x across the funnel legs
    # (review-round fix, r6)
    surv = surv.persist()
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("bigint")
        + 1
    ).cast("double") / F.lit(float(_HEX15))
    sampled = (
        surv.filter((F.col("dedup_ok") == 1) & (F.col("n_chars") > 0))
        .withColumn(
            "es_key_nano",
            F.floor(
                F.log(u) / F.col("n_chars").cast("double") * 1000000000.0
            ).cast("bigint"),
        )
        .orderBy(F.desc("es_key_nano"), "doc_id")
        .limit(_V2_SAMPLE_K)
    )
    sampled = sampled.persist()
    wsh = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    shards = (
        sampled.withColumn(
            "cum_prev", F.coalesce(F.sum("n_chars").over(wsh), F.lit(0))
        )
        .select(
            "source",
            F.expr(f"cum_prev DIV {_V2_SHARD_BYTES}").alias("shard"),
        )
        .distinct()
    )
    stage_counts = gated.agg(
        F.count(F.lit(1)).alias("raw"),
        F.sum("len_ok").alias("length_pass"),
        F.sum(F.col("len_ok") * F.col("lang_ok")).alias("lang_pass"),
    )
    dedup_cnt = surv.agg(F.sum("dedup_ok").alias("n"))
    sample_cnt = sampled.agg(F.count(F.lit(1)).alias("n"))
    shard_cnt = shards.agg(F.count(F.lit(1)).alias("n"))
    rows = (
        stage_counts.select(F.lit("1_raw").alias("stage"), F.col("raw").alias("n_docs"))
        .union(
            stage_counts.select(
                F.lit("2_length_pass"), F.col("length_pass")
            )
        )
        .union(stage_counts.select(F.lit("3_lang_pass"), F.col("lang_pass")))
        .union(dedup_cnt.select(F.lit("4_dedup_pass"), F.col("n")))
        .union(sample_cnt.select(F.lit("5_sampled"), F.col("n")))
        .union(shard_cnt.select(F.lit("6_shards"), F.col("n")))
    )
    return rows.orderBy("stage")


SQL_LLM_PREP_PIPELINE_V2 = f"""
WITH gated AS (
  SELECT doc_id, source, lang, n_chars, md5(text) AS th,
         CASE WHEN n_chars >= {_V2_MIN_CHARS} THEN 1 ELSE 0 END AS len_ok,
         CASE WHEN lang IN ({", ".join(f"'{lang}'" for lang in _V2_LANGS)})
              THEN 1 ELSE 0 END AS lang_ok
  FROM documents
),
surv AS (
  SELECT *,
         sum(len_ok * lang_ok) OVER (
           PARTITION BY th ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS surv_rank
  FROM gated
),
ded AS (
  SELECT *,
         CASE WHEN len_ok = 1 AND lang_ok = 1 AND surv_rank = 1
              THEN 1 ELSE 0 END AS dedup_ok
  FROM surv
),
sampled AS (
  SELECT doc_id, source, n_chars
  FROM ded
  WHERE dedup_ok = 1 AND n_chars > 0
  ORDER BY CAST(floor(ln(CAST(CAST(concat('0x',
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             + 1 AS DOUBLE) / {_HEX15}.0)
           / CAST(n_chars AS DOUBLE) * 1000000000.0) AS BIGINT) DESC,
           doc_id
  LIMIT {_V2_SAMPLE_K}
),
shards AS (
  SELECT DISTINCT source,
         CAST(COALESCE(sum(n_chars) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) // {_V2_SHARD_BYTES} AS BIGINT) AS shard
  FROM sampled
)
SELECT stage, CAST(n_docs AS BIGINT) AS n_docs FROM (
  SELECT '1_raw' AS stage, count(*) AS n_docs FROM gated
  UNION ALL
  SELECT '2_length_pass', sum(len_ok) FROM gated
  UNION ALL
  SELECT '3_lang_pass', sum(len_ok * lang_ok) FROM gated
  UNION ALL
  SELECT '4_dedup_pass', sum(dedup_ok) FROM ded
  UNION ALL
  SELECT '5_sampled', count(*) FROM sampled
  UNION ALL
  SELECT '6_shards', count(*) FROM shards
) ORDER BY stage
"""


def q_profile_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card: document/source/language cardinalities,
    total character mass, whitespace-token mass, length p50 and mean
    (milli), and the exact-duplicate rate (ppm of docs whose text is
    not the first occurrence).

    Scale: one grouped-less aggregate pass; distinct counts are
    hash-aggregated; the dup rate derives from count - distinct
    text hashes — no join, no window."""
    docs = _t(spark, sf_dir, "documents")
    # explicit whitespace class on BOTH sides: Java \s and RE2 \s
    # disagree on vertical tab (U+000B), so neither \s+ nor \S+ is
    # engine-neutral (review-round fix, r6)
    toks = F.size(
        F.regexp_extract_all(
            F.col("text"), F.lit(r"[^ \t\n\x0B\f\r]+"), F.lit(0)
        )
    )
    agg = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(toks.cast("bigint")).alias("total_tokens"),
        F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
        F.expr("percentile(n_chars, 0.5)").alias("p50d"),
    )
    return agg.select(
        "n_docs",
        "n_sources",
        "n_langs",
        "total_chars",
        "total_tokens",
        F.floor(F.col("p50d") * 1000.0).cast("bigint").alias(
            "p50_chars_milli"
        ),
        F.when(
            F.col("n_docs") > 0,
            F.floor(
                F.col("total_chars").cast("double")
                * 1000.0
                / F.col("n_docs").cast("double")
            ).cast("bigint"),
        ).alias("mean_chars_milli"),
        F.when(
            F.col("n_docs") > 0,
            F.floor(
                (F.col("n_docs") - F.col("n_distinct_texts")).cast("double")
                * 1000000.0
                / F.col("n_docs").cast("double")
            ).cast("bigint"),
        ).alias("dup_rate_ppm"),
    )


SQL_PROFILE_DATASET_CARD = """
WITH agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(sum(length(regexp_extract_all(text,
                '[^ \t\n\x0B\f\r]+'))) AS BIGINT)
           AS total_tokens,
         CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
         quantile_cont(n_chars, 0.5) AS p50d
  FROM documents
)
SELECT n_docs, n_sources, n_langs, total_chars, total_tokens,
       CAST(floor(p50d * 1000.0) AS BIGINT) AS p50_chars_milli,
       CASE WHEN n_docs > 0 THEN
         CAST(floor(CAST(total_chars AS DOUBLE) * 1000.0
                    / CAST(n_docs AS DOUBLE)) AS BIGINT)
       END AS mean_chars_milli,
       CASE WHEN n_docs > 0 THEN
         CAST(floor(CAST(n_docs - n_distinct_texts AS DOUBLE) * 1000000.0
                    / CAST(n_docs AS DOUBLE)) AS BIGINT)
       END AS dup_rate_ppm
FROM agg
"""


QUERIES: dict[str, QuerySpec] = {
    "llm_prep_pipeline_v2": QuerySpec(
        q_llm_prep_pipeline_v2, SQL_LLM_PREP_PIPELINE_V2
    ),
    "profile_dataset_card": QuerySpec(
        q_profile_dataset_card, SQL_PROFILE_DATASET_CARD
    ),
}
