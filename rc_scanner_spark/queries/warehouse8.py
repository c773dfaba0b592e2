"""Round-6 batch 16: Efraimidis-Spirakis weighted sampling, embedding
dimension-truncation fidelity, and PMI co-occurrence mining.

Why these belong in a 100 TB training-data engine:

* ``sample_gumbel_topk`` — weighted sampling WITHOUT replacement at
  corpus scale is the Efraimidis-Spirakis trick: give every row the
  key ln(u)/w with u a per-row deterministic uniform, take the
  global top-k.  No sequential pass, no rejection loop — one
  map-side key + a distributed TakeOrderedAndProject.  This is the
  standard "sample 10M docs proportional to length" primitive.
* ``embed_dim_truncation_fidelity`` — Matryoshka-style truncation
  (keep the first 16 of 64 dims) is the cheap ANN prefilter; this op
  measures what it costs, binning bucket-sampled pairs by full-dim
  cosine and reporting the mean/max cosine error of the truncated
  prefix per bin.  Same deterministic md5-bucket pair sampling as
  ``embed_pair_distance_hist`` — the pair fan-out is (N/B)^2 per
  bucket with B the blocking knob.
* ``text_pmi_cooccur`` — pointwise mutual information over ADJACENT
  token bigrams is the classic collocation miner (the scoring behind
  word2vec phrase detection).  Bigrams generate map-side from each
  doc's token array — one element per token position, linear in
  corpus tokens at any scale — and the unigram marginals are a
  vocabulary-sized broadcast.

Engine-parity notes: uniforms derive from the md5-15-hex portable
hash over 2^60 (identical literal on both sides); ln chains evaluate
in identical order; per-pair cosine deltas quantize to integer milli
BEFORE aggregation (integer sums are association-order-independent
where float sums are not — the orders_survival_km lesson); division
guards exclude zero weights/norms on both sides (Spark ANSI throws
on double/0 where DuckDB yields inf/NULL).

Reference scope note: the reference engine (scanner.py:120-175) has
no analytics surface; these extend SURVEY.md §2.B's LLM-pipeline /
text categories.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import QuerySpec, load_tuned

_t = load_tuned

_HEX15 = "1152921504606846976"  # 16^15 = 2^60, the md5-15-hex span


# --------------------------------------------------------------------
# Efraimidis-Spirakis weighted sampling without replacement
# --------------------------------------------------------------------

_ES_K = 100


def q_sample_gumbel_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement: key =
    ln(u) / w with u = (md5_60bit(doc_id) + 1) / 2^60 and w =
    n_chars; the k rows with the largest keys are the exact
    Efraimidis-Spirakis sample (equivalent to ranking u^(1/w)).

    Scale: one map-side key expression + TakeOrderedAndProject — no
    shuffle beyond the top-k reduction, no sequential state.  Zero
    weights are excluded on both sides (ln(u)/0 is an ANSI throw on
    Spark, inf on DuckDB)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    ).filter(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("bigint")
        + 1
    ).cast("double") / F.lit(float(_HEX15))
    key = F.log(u) / F.col("n_chars").cast("double")
    return (
        docs.withColumn(
            "es_key_nano", F.floor(key * 1000000000.0).cast("bigint")
        )
        .orderBy(F.desc("es_key_nano"), "doc_id")
        .limit(_ES_K)
        .select("doc_id", "n_chars", "es_key_nano")
    )


SQL_SAMPLE_GUMBEL_TOPK = f"""
WITH d AS (
  SELECT doc_id, n_chars,
         CAST(floor(ln(CAST(CAST(concat('0x',
                substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                + 1 AS DOUBLE) / {_HEX15}.0)
              / CAST(n_chars AS DOUBLE) * 1000000000.0) AS BIGINT)
           AS es_key_nano
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars, es_key_nano
FROM d ORDER BY es_key_nano DESC, doc_id LIMIT {_ES_K}
"""


# --------------------------------------------------------------------
# dimension-truncation fidelity (Matryoshka eval)
# --------------------------------------------------------------------

_TRUNC_DIM = 16
_FULL_DIM = 64
_TF_BUCKETS = 64


def q_embed_dim_truncation_fidelity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cosine-preservation profile of 16-dim prefix truncation over
    deterministic md5-bucket pair samples: per full-cosine band
    (tenth-width), the pair count and the mean/max milli error
    |cos64 - cos16|.

    Scale: identical blocking to ``embed_pair_distance_hist`` —
    (N/B)^2 pair fan-out per bucket, norms map-side before the join,
    zero-norm prefixes excluded.  Per-pair errors quantize to integer
    milli before the aggregate, so the mean is an exact integer sum
    in any accumulation order.

    r14 batch 7: the 64+16-term element_at chains are SQL expression
    strings (the registry's worst plan-construction outlier: ~800
    Column-API calls = 12.9 s of DRIVER time per build).  Same
    left-associated ``+`` chains, same casts and literals — the
    parsed trees, and therefore every double, are unchanged."""

    def chain(col: str, dim: int) -> str:
        return " + ".join(
            f"CAST(element_at({col}, {i + 1}) AS DOUBLE)"
            f" * CAST(element_at({col}, {i + 1}) AS DOUBLE)"
            for i in range(dim)
        )

    v = (
        _t(spark, sf_dir, "embeddings")
        .selectExpr(
            "vec_id",
            "embedding",
            "pmod(CAST(conv(substring(md5(CAST(vec_id AS STRING)),"
            f" 1, 15), 16, 10) AS BIGINT), {_TF_BUCKETS}) AS bucket",
            f"sqrt({chain('embedding', _FULL_DIM)}) AS nrm64",
            f"sqrt({chain('embedding', _TRUNC_DIM)}) AS nrm16",
        )
        .filter((F.col("nrm64") > 0) & (F.col("nrm16") > 0))
    )
    a, b = v.alias("a"), v.alias("b")

    def dot(dim: int) -> str:
        return " + ".join(
            f"CAST(element_at(a.embedding, {i + 1}) AS DOUBLE)"
            f" * CAST(element_at(b.embedding, {i + 1}) AS DOUBLE)"
            for i in range(dim)
        )

    cos64 = f"(({dot(_FULL_DIM)}) / (a.nrm64 * b.nrm64))"
    cos16 = f"(({dot(_TRUNC_DIM)}) / (a.nrm16 * b.nrm16))"
    per = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .selectExpr(
            f"CAST(floor({cos64} * 10.0D) AS INT) AS band",
            f"CAST(floor(abs({cos64} - {cos16}) * 1000.0D) AS BIGINT)"
            " AS err_milli",
        )
    )
    return (
        per.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr("sum(err_milli) DIV count(1)").alias("mean_err_milli"),
            F.max("err_milli").alias("max_err_milli"),
        )
        .orderBy("band")
    )


def _trunc_sql() -> str:
    def chain(prefix: str, dim: int) -> str:
        return " + ".join(
            f"CAST({prefix}embedding[{i + 1}] AS DOUBLE)"
            f" * CAST({prefix}embedding[{i + 1}] AS DOUBLE)"
            for i in range(dim)
        )

    def dot(dim: int) -> str:
        return " + ".join(
            f"CAST(a.embedding[{i + 1}] AS DOUBLE)"
            f" * CAST(b.embedding[{i + 1}] AS DOUBLE)"
            for i in range(dim)
        )

    return f"""
WITH v AS (
  SELECT vec_id, embedding,
         CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
              AS BIGINT) % {_TF_BUCKETS} AS bucket,
         sqrt({chain('', _FULL_DIM)}) AS nrm64,
         sqrt({chain('', _TRUNC_DIM)}) AS nrm16
  FROM embeddings
),
vf AS (SELECT * FROM v WHERE nrm64 > 0 AND nrm16 > 0),
per AS (
  SELECT CAST(floor(({dot(_FULL_DIM)}) / (a.nrm64 * b.nrm64) * 10.0)
              AS INT) AS band,
         CAST(floor(abs(({dot(_FULL_DIM)}) / (a.nrm64 * b.nrm64)
                        - ({dot(_TRUNC_DIM)}) / (a.nrm16 * b.nrm16))
                    * 1000.0) AS BIGINT) AS err_milli
  FROM vf a JOIN vf b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT band, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(err_milli) // count(*) AS BIGINT) AS mean_err_milli,
       CAST(max(err_milli) AS BIGINT) AS max_err_milli
FROM per GROUP BY 1 ORDER BY band
"""


SQL_EMBED_DIM_TRUNCATION_FIDELITY = _trunc_sql()


# --------------------------------------------------------------------
# PMI collocations (adjacent-bigram pointwise mutual information)
# --------------------------------------------------------------------

_PMI_MIN_PAIR = 5
_PMI_TOPK = 50


def q_text_pmi_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top PMI collocations over ADJACENT token bigrams: pmi(a,b) =
    ln(c_ab * T / (c_a * c_b)) with c_* token/bigram occurrence
    counts and T the corpus token total — the word2vec
    phrase-detection scoring, mined distributedly.

    Scale: bigrams generate MAP-SIDE from each doc's token array (no
    positional join); unigram marginals are a vocabulary-sized
    broadcast; the token total is a broadcast scalar; top-k plans as
    TakeOrderedAndProject.  The ln argument builds double-first
    (c_ab * T as a bigint product would pass 2^63 at design scale)."""

    # the token-array frame feeds both the unigram aggregate and the
    # bigram explode — persist it (released by bench/
    # check_oracle) instead of tokenizing the corpus twice
    toks_arr = (
        _t(spark, sf_dir, "documents").select(
            "doc_id",
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"),
                lambda x: x != F.lit(""),
            ).alias("t"),
        )
        .persist()
    )
    cnt = (
        toks_arr.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # corpus token total = sum of the vocabulary-sized unigram counts
    # (no third tokenize pass over documents)
    tot = cnt.agg(F.sum("c").alias("t_total"))
    # sequence(1, 0) is a DESCENDING range under ANSI (and
    # element_at(t, 0) throws) — guard docs with < 2 tokens
    bi = toks_arr.select(
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 2 THEN"
                " transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS ta,"
                " element_at(t, i + 1) AS tb))"
                " ELSE CAST(array() AS array<struct<ta:string,tb:string>>)"
                " END"
            )
        ).alias("bg")
    ).select("bg.ta", "bg.tb")
    pairs = (
        bi.groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= _PMI_MIN_PAIR)
        .join(
            F.broadcast(
                cnt.select(F.col("tok").alias("ta"), F.col("c").alias("ca"))
            ),
            "ta",
        )
        .join(
            F.broadcast(
                cnt.select(F.col("tok").alias("tb"), F.col("c").alias("cb"))
            ),
            "tb",
        )
        .crossJoin(F.broadcast(tot))
    )
    pmi = F.floor(
        F.log(
            F.col("n_ab").cast("double")
            * F.col("t_total").cast("double")
            / (F.col("ca").cast("double") * F.col("cb").cast("double"))
        )
        * 1000.0
    ).cast("bigint")
    return (
        pairs.select("ta", "tb", "n_ab", pmi.alias("pmi_milli"))
        .orderBy(F.desc("pmi_milli"), "ta", "tb")
        .limit(_PMI_TOPK)
    )


SQL_TEXT_PMI_COOCCUR = f"""
WITH arrs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t
  FROM documents
),
uni AS (SELECT unnest(t) AS tok FROM arrs),
cnt AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
tot AS (SELECT sum(c) AS t_total FROM cnt),
pos AS (
  SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS p
  FROM arrs
),
bi AS (
  SELECT a.tok AS ta, b.tok AS tb
  FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
),
pairs AS (
  SELECT ta, tb, count(*) AS n_ab FROM bi GROUP BY 1, 2
  HAVING count(*) >= {_PMI_MIN_PAIR}
)
SELECT p.ta, p.tb, CAST(p.n_ab AS BIGINT) AS n_ab,
       CAST(floor(ln(CAST(p.n_ab AS DOUBLE) * CAST(t.t_total AS DOUBLE)
                     / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)))
                  * 1000.0) AS BIGINT) AS pmi_milli
FROM pairs p
JOIN cnt ca ON ca.tok = p.ta
JOIN cnt cb ON cb.tok = p.tb
CROSS JOIN tot t
ORDER BY pmi_milli DESC, ta, tb LIMIT {_PMI_TOPK}
"""


QUERIES: dict[str, QuerySpec] = {
    "sample_gumbel_topk": QuerySpec(
        q_sample_gumbel_topk, SQL_SAMPLE_GUMBEL_TOPK
    ),
    "embed_dim_truncation_fidelity": QuerySpec(
        q_embed_dim_truncation_fidelity, SQL_EMBED_DIM_TRUNCATION_FIDELITY
    ),
    "text_pmi_cooccur": QuerySpec(q_text_pmi_cooccur, SQL_TEXT_PMI_COOCCUR),
}
