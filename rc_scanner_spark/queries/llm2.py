"""Round-5 LLM-pipeline additions: embedding compression (scalar
int8 quantization, product quantization ANN), Bloom-filter corpus
membership, cluster-representative selection, interpolated bigram LM
scoring, asymmetric containment dedup, and bounded-error quantile
sketches.

Design notes (100 TB):
  * Quantization/PQ are THE embedding-at-scale levers - int8 cuts the
    vector footprint 4x and PQ ~32x; both keep search JVM-side
    (zip_with/aggregate codegen, broadcast codebooks, no Python).
  * The Bloom filter pre-gates incremental dedup so the expensive
    anti-join only sees probable-duplicates; the bit table is bounded
    by the filter width (broadcastable), never by corpus size.
  * All hash/arithmetical internals are md5/double-deterministic so
    the DuckDB twin replays them bit-for-bit (same discipline as the
    portable MinHash/CountMin twins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double_array, cosine
from ..operators.text import words
from . import QuerySpec, load_tuned


_t = load_tuned


# --- scalar int8 quantization ----------------------------------------------


def q_embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding column: per-dimension
    global [min, max] -> 256-level codes -> dequantize -> report the
    reconstruction cosine per vector.  At 100 TB the stats pass is one
    bounded aggregation (rows = dims, here 64) broadcast back onto the
    fleet; codes ship as 1/4 the bytes of float32 and 1/8 of float64.

    Determinism: stats and codes are pure double arithmetic with the
    same expression shape on both engines; floor() avoids the .5
    rounding boundary entirely (codes are exact integers), and the
    final cosine is rounded to 4."""
    e = _t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", as_double_array(F.col("embedding")).alias("v"))
    # Per-dimension stats: rows == dims (64) — a bounded frame that
    # broadcasts as two tiny arrays, never a per-vector shuffle.
    stats = (
        v.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    packed = stats.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "mn", "mx"))
        ).alias("s")
    ).select(
        F.transform("s", lambda r: r["mn"]).alias("mins"),
        F.transform("s", lambda r: r["mx"]).alias("maxs"),
    )
    q = v.crossJoin(F.broadcast(packed))
    # code_i = floor((x - mn) * 255 / (mx - mn)), clamped to [0, 255];
    # constant dimensions (mx == mn) encode as 0.
    code = F.transform(
        "v",
        lambda x, i: F.when(
            F.element_at("maxs", i + 1) == F.element_at("mins", i + 1),
            F.lit(0),
        ).otherwise(
            F.least(
                F.lit(255),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (x - F.element_at("mins", i + 1))
                        * 255.0
                        / (
                            F.element_at("maxs", i + 1)
                            - F.element_at("mins", i + 1)
                        )
                    ).cast("int"),
                ),
            )
        ),
    )
    deq = F.transform(
        F.col("codes"),
        lambda c, i: F.element_at("mins", i + 1)
        + c.cast("double")
        * (
            F.element_at("maxs", i + 1) - F.element_at("mins", i + 1)
        )
        / 255.0,
    )
    return (
        q.withColumn("codes", code)
        .withColumn("deq", deq)
        .select(
            "vec_id",
            F.aggregate(
                "codes", F.lit(0).cast("long"), lambda a, x: a + x
            ).alias("code_sum"),
            F.round(cosine(F.col("v"), F.col("deq")), 4).alias("recon_cos"),
        )
    )


SQL_EMBED_QUANTIZE_INT8 = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
stats AS (
  SELECT pos, min(x) AS mn, max(x) AS mx
  FROM (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM v)
  GROUP BY pos
),
packed AS (
  SELECT list(mn ORDER BY pos) AS mins, list(mx ORDER BY pos) AS maxs
  FROM stats
),
coded AS (
  SELECT vec_id, v, mins, maxs,
         [CASE WHEN maxs[i] = mins[i] THEN 0
               ELSE least(255, greatest(0,
                    CAST(floor((v[i] - mins[i]) * 255.0 / (maxs[i] - mins[i]))
                         AS INT)))
          END FOR i IN range(1, len(v) + 1)] AS codes
  FROM v CROSS JOIN packed
),
deq AS (
  SELECT vec_id, v, codes,
         [mins[i] + codes[i]::DOUBLE * (maxs[i] - mins[i]) / 255.0
          FOR i IN range(1, len(v) + 1)] AS d
  FROM coded
)
SELECT vec_id,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       round(list_cosine_similarity(v, d), 4) AS recon_cos
FROM deq
"""


# --- product quantization ANN ----------------------------------------------

_PQ_M = 4          # subspaces
_PQ_SUBDIM = 16    # dims per subspace (embeddings are 64-d)
_PQ_K = 16         # codebook entries per subspace


def _subvec(col, m: int):
    return F.slice(col, m * _PQ_SUBDIM + 1, _PQ_SUBDIM)


def _explode_subspaces(df, vec_col: str, out_field: str, *carry: str):
    """One row per (carry..., m, subvector): the PQ subspace explode
    shared by codebook build, encoding, and LUT construction (one
    definition for the subspace geometry instead of six copies)."""
    ex = df.select(
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        _subvec(F.col(vec_col), m).alias(out_field),
                    )
                    for m in range(_PQ_M)
                ]
            )
        ).alias("s"),
    )
    return ex.select(
        *carry, F.col("s.m").alias("m"), F.col(f"s.{out_field}").alias(out_field)
    )


def _l2(a, b):
    """Left-fold squared L2 distance (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: split 64-d embeddings into 4x16-d
    subspaces, encode each against a 16-entry per-subspace codebook
    (sampled deterministically from the first 16 vectors; production
    would Lloyd-refine with operators/similarity.kmeans_refine), then
    answer top-5 via asymmetric distance computation: the query builds
    a 4x16 lookup table against the broadcast codebook and each
    database vector's distance is a 4-way table sum over its codes.

    Scale shape: codes are M bytes per vector (32x smaller than
    float64); the only per-vector work after encoding is a broadcast
    hash-join on (subspace, code) + a sum - no vector math touches the
    database side at query time.  Encoding is a one-off broadcast
    cross-join against K*M tiny centroids.

    Determinism: distances are fixed-point micro-units (round(d2*1e6)
    as BIGINT — integer-exact across engines, the portable-LSH
    discipline; summing re-rounded doubles would straddle decimal
    boundaries); ties break to the lowest code / lowest vec_id."""
    e = _t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", as_double_array(F.col("embedding")).alias("v"))

    # The seed's own vec_id doubles as the code id — no global window
    # is needed to number the codebook.
    seeds = v.orderBy("vec_id").limit(_PQ_K)
    # one definition of the subspace geometry: the codebook explode is
    # the same _explode_subspaces the encode/LUT paths use (review r8
    # round 5 — a hand-rolled copy here could silently diverge from a
    # future _PQ_M/_PQ_SUBDIM change)
    cb_long = _explode_subspaces(
        seeds.select(F.col("vec_id").alias("code"), "v"), "v", "cv", "code"
    )

    sub = _explode_subspaces(v, "v", "sv", "vec_id")

    # Encode: per (vector, subspace) argmin over the broadcast codebook.
    assigned = (
        sub.join(F.broadcast(cb_long), "m")
        .withColumn(
            "d2",
            F.round(_l2(F.col("sv"), F.col("cv")) * 1000000).cast("long"),
        )
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "code")).alias("best"))
        .select("vec_id", "m", F.col("best.code").alias("code"))
    )

    # Queries build the ADC lookup table against the same codebook.
    queries = v.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    lut = (
        _explode_subspaces(queries, "qv", "qs", "qid")
        .join(F.broadcast(cb_long), "m")
        .select(
            "qid",
            "m",
            "code",
            F.round(_l2(F.col("qs"), F.col("cv")) * 1000000)
            .cast("long")
            .alias("d2"),
        )
    )

    scored = (
        assigned.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("qid") != F.col("vec_id"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("d2").alias("approx_d2"))
    )
    w = Window.partitionBy("qid").orderBy("approx_d2", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("qid", "vec_id", "approx_d2", "rnk")
    )


def _pq_sql() -> str:
    sub_cases = ", ".join(
        f"v[{m * _PQ_SUBDIM + 1}:{(m + 1) * _PQ_SUBDIM}] AS s{m}"
        for m in range(_PQ_M)
    )
    cb_union = " UNION ALL ".join(
        f"SELECT {m} AS m, code, s{m} AS cv FROM codebook"
        for m in range(_PQ_M)
    )
    sub_union = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, s{m} AS sv FROM subv"
        for m in range(_PQ_M)
    )
    q_union = " UNION ALL ".join(
        f"SELECT qid, {m} AS m, s{m} AS qs FROM qsubv"
        for m in range(_PQ_M)
    )
    l2 = (
        "CAST(round(list_sum([(a.{x}[i] - b.cv[i]) * (a.{x}[i] - b.cv[i]) "
        f"FOR i IN range(1, {_PQ_SUBDIM} + 1)]) * 1000000) AS BIGINT)"
    )
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
seeds AS (
  SELECT vec_id, v FROM v ORDER BY vec_id LIMIT {_PQ_K}
),
codebook AS (
  SELECT vec_id AS code, {sub_cases} FROM seeds
),
cb AS ({cb_union}),
subv AS (SELECT vec_id, {sub_cases} FROM v),
subl AS ({sub_union}),
assigned AS (
  SELECT vec_id, m, code FROM (
    SELECT a.vec_id, a.m, b.code,
           row_number() OVER (
             PARTITION BY a.vec_id, a.m
             ORDER BY {l2.format(x='sv')}, b.code
           ) AS rn
    FROM subl a JOIN cb b USING (m)
  ) WHERE rn = 1
),
qsubv AS (
  SELECT vec_id AS qid, {sub_cases} FROM v WHERE vec_id % 25 = 0
),
qsubl AS ({q_union}),
lut AS (
  SELECT a.qid, a.m, b.code, {l2.format(x='qs')} AS d2
  FROM qsubl a JOIN cb b USING (m)
),
scored AS (
  SELECT l.qid, s.vec_id, CAST(sum(l.d2) AS BIGINT) AS approx_d2
  FROM assigned s JOIN lut l USING (m, code)
  WHERE l.qid != s.vec_id
  GROUP BY 1, 2
)
SELECT qid, vec_id, approx_d2, rnk FROM (
  SELECT qid, vec_id, approx_d2,
         CAST(row_number() OVER (
           PARTITION BY qid ORDER BY approx_d2, vec_id
         ) AS INT) AS rnk
  FROM scored
) WHERE rnk <= 5
"""


SQL_ANN_PQ_TOPK = _pq_sql()


# --- Bloom-filter corpus membership ----------------------------------------

_BLOOM_M = 4096  # bits
_BLOOM_K = 3     # hash functions


def _bloom_pos(j: int, key):
    """Engine-portable bit position: md5-derived 60-bit hash of
    'j:key' mod m (same trick as the Count-Min / portable-LSH twins).
    The key is coalesced to '' on BOTH sides: Spark concat_ws drops a
    NULL arg AND its separator ('0') while DuckDB concat keeps the
    separator ('0:'), so an unmirrored NULL key would probe different
    bit positions per engine (review r8 round 5)."""
    from ..functions.hashing import md5_long

    return (
        md5_long(
            F.concat_ws(":", F.lit(str(j)), F.coalesce(key, F.lit("")))
        )
        % _BLOOM_M
    )


def _bloom_pos_sql(j: int, key_expr: str) -> str:
    return (
        f"CAST(concat('0x', substr(md5(concat('{j}', ':',"
        f" coalesce({key_expr}, ''))), 1, 15)) AS BIGINT) % {_BLOOM_M}"
    )


def q_sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-gate for incremental corpus dedup:
    the even-doc_id half of the corpus is the 'already ingested' set;
    every doc probes the filter before the (expensive) exact anti-join
    would run.  Output per doc: bloom_hit and the true membership -
    the no-false-negative invariant (in_corpus -> bloom_hit) is part
    of the hash-compared result.

    Scale shape: the 'filter' materializes as the distinct set of set
    bit positions - bounded by m (4096 rows) regardless of corpus
    size, so it broadcasts; each probe is a broadcast semi-join plus a
    count-of-matched-positions == k test.  On a cluster the same
    filter would ship as Spark's bloom_filter_agg binary and probes
    would call might_contain; the md5 form here is the
    engine-portable twin of that plan (DuckDB replays it exactly).
    """
    d = _t(spark, sf_dir, "documents")
    key = F.md5(F.lower(F.col("text")))
    keyed = d.select("doc_id", key.alias("key"))
    corpus = keyed.filter(F.col("doc_id") % 2 == 0)
    bits = (
        corpus.select(
            F.explode(
                F.array(
                    *[_bloom_pos(j, F.col("key")) for j in range(_BLOOM_K)]
                )
            ).alias("pos")
        )
        .distinct()
    )
    probes = keyed.select(
        "doc_id",
        "key",
        F.explode(
            F.array(*[_bloom_pos(j, F.col("key")) for j in range(_BLOOM_K)])
        ).alias("pos"),
    )
    # A key's k hash positions may collide with each other, so a hit
    # compares matched-distinct against the key's OWN distinct-position
    # count, not against k.
    own = probes.groupBy("doc_id").agg(
        F.countDistinct("pos").alias("n_pos")
    )
    hits = (
        probes.join(F.broadcast(bits), "pos")
        .groupBy("doc_id")
        .agg(F.countDistinct("pos").alias("n_set"))
    )
    membership = keyed.join(
        corpus.select(F.col("key").alias("ck")).distinct(),
        keyed["key"] == F.col("ck"),
        "left",
    ).select("doc_id", F.col("ck").isNotNull().alias("in_corpus"))
    return (
        keyed.select("doc_id")
        .join(own, "doc_id")
        .join(hits, "doc_id", "left")
        .join(membership, "doc_id")
        .select(
            "doc_id",
            (F.coalesce(F.col("n_set"), F.lit(0)) == F.col("n_pos")).alias(
                "bloom_hit"
            ),
            "in_corpus",
        )
    )


def _bloom_sql() -> str:
    pos_union = " UNION ALL ".join(
        f"SELECT doc_id, key, {_bloom_pos_sql(j, 'key')} AS pos FROM keyed"
        for j in range(_BLOOM_K)
    )
    return f"""
WITH keyed AS (
  SELECT doc_id, md5(lower(text)) AS key FROM documents
),
allpos AS ({pos_union}),
bits AS (
  SELECT DISTINCT pos FROM allpos WHERE doc_id % 2 = 0
),
own AS (
  SELECT doc_id, count(DISTINCT pos) AS n_pos FROM allpos GROUP BY 1
),
hits AS (
  SELECT doc_id, count(DISTINCT pos) AS n_set
  FROM allpos JOIN bits USING (pos)
  GROUP BY 1
),
corpus_keys AS (
  SELECT DISTINCT key FROM keyed WHERE doc_id % 2 = 0
)
SELECT k.doc_id,
       COALESCE(h.n_set, 0) = o.n_pos AS bloom_hit,
       c.key IS NOT NULL AS in_corpus
FROM keyed k
JOIN own o USING (doc_id)
LEFT JOIN hits h USING (doc_id)
LEFT JOIN corpus_keys c USING (key)
"""


SQL_SKETCH_BLOOM_MEMBERSHIP = _bloom_sql()


# --- cluster-representative selection --------------------------------------


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution that keeps the BEST document per
    cluster (longest text, ties to lowest doc_id) instead of the
    min-id canonical - what a production prep pipeline actually ships
    downstream.  Clusters come from the same multi-key connected
    components as dedup_cc_clusters; the representative choice is one
    window over (component) ordered by quality.

    The window partitions on component (bounded groups), never
    globally; cluster sizes are df-capped upstream at the edge
    builder, so no partition key explodes at scale."""
    from ..operators.graph import connected_components, star_edges_for_key

    d = _t(spark, sf_dir, "documents")
    ws = words(F.col("text"))
    k1 = F.md5(F.concat_ws(" ", F.slice(ws, 1, 4)))
    k2 = F.md5(
        F.concat_ws(
            " ",
            F.when(F.size(ws) >= 4, F.slice(ws, -4, 4)).otherwise(ws),
        )
    )
    keyed = d.select(
        "doc_id", F.explode(F.array(k1, k2)).alias("key")
    ).distinct()
    edges = star_edges_for_key(keyed, "doc_id", "key", max_group=100)
    comp = connected_components(edges)
    labeled = (
        d.select("doc_id", "n_chars")
        .join(comp, d["doc_id"] == comp["id"], "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        )
    )
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("component")),
        )
        .select(
            "doc_id",
            "component",
            "cluster_size",
            (F.col("rn") == 1).alias("kept"),
        )
    )


SQL_DEDUP_KEEP_BEST = """
WITH RECURSIVE w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words
  FROM documents
),
keyed AS (
  SELECT DISTINCT doc_id, key FROM (
    SELECT doc_id, md5(array_to_string(words[1:4], ' ')) AS key FROM w
    UNION ALL
    SELECT doc_id,
           md5(array_to_string(
               CASE WHEN len(words) >= 4 THEN words[-4:] ELSE words END, ' '))
    FROM w
  )
),
grp AS (
  SELECT key, min(doc_id) AS dst, count(*) AS n
  FROM keyed GROUP BY key HAVING count(*) <= 100
),
star AS (
  SELECT k.doc_id AS src, g.dst
  FROM keyed k JOIN grp g USING (key)
  WHERE k.doc_id != g.dst
),
sym AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM star UNION ALL SELECT dst AS src, src AS dst FROM star
  )
),
reach AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON s.src = r.dst
),
comp AS (
  SELECT src AS doc_id, least(min(dst), src) AS component
  FROM reach GROUP BY src
),
labeled AS (
  SELECT d.doc_id, d.n_chars, COALESCE(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, component,
       CAST(count(*) OVER (PARTITION BY component) AS BIGINT)
           AS cluster_size,
       row_number() OVER (
         PARTITION BY component ORDER BY n_chars DESC, doc_id
       ) = 1 AS kept
FROM labeled
"""


# --- interpolated bigram language model ------------------------------------


def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy scoring with an interpolated bigram LM
    (0.7 * p(w2|w1) + 0.3 * p(w2)) - one step up from the unigram
    stand-in toward a KenLM-style quality filter.  Two corpus
    aggregations (bigram counts keyed by the pair, prefix counts by
    w1) join back onto the exploded corpus; every shuffle key is a
    vocabulary term (zipf-bounded, AQE-skew-handled), never a doc.

    Docs with < 2 words score NULL (kept, for parity with the
    unigram query)."""
    d = _t(spark, sf_dir, "documents")
    ws = words(F.col("text"))
    bi = d.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
                F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    uni = d.select(F.explode(words(F.col("text"))).alias("word")).groupBy(
        "word"
    ).agg(F.count(F.lit(1)).alias("wc"))
    tot = uni.agg(F.sum("wc").alias("tot"))
    bic = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("bc"))
    pre = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("pc"))
    scored = (
        bi.join(bic, ["w1", "w2"])
        .join(pre, "w1")
        .join(uni.withColumnRenamed("word", "w2"), "w2")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(
                    -F.log(
                        0.7 * F.col("bc") / F.col("pc")
                        + 0.3 * F.col("wc") / F.col("tot")
                    )
                ),
                4,
            ).alias("avg_neg_logprob"),
        )
    )
    return d.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
        "avg_neg_logprob",
    )


SQL_TEXT_BIGRAM_LOGPROB = """
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words
  FROM documents
),
bi AS (
  SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
    SELECT doc_id,
           unnest([{'w1': words[i], 'w2': words[i + 1]}
                   FOR i IN range(1, len(words))]) AS p
    FROM w WHERE len(words) >= 2
  )
),
uni AS (
  SELECT unnest(words) AS word FROM w
),
unic AS (SELECT word, count(*) AS wc FROM uni GROUP BY 1),
tot AS (SELECT sum(wc) AS tot FROM unic),
bic AS (SELECT w1, w2, count(*) AS bc FROM bi GROUP BY 1, 2),
pre AS (SELECT w1, count(*) AS pc FROM bi GROUP BY 1),
scored AS (
  SELECT b.doc_id, count(*) AS n_bigrams,
         round(avg(-ln(0.7 * c.bc / p.pc + 0.3 * u.wc / t.tot)), 4)
             AS avg_neg_logprob
  FROM bi b
  JOIN bic c USING (w1, w2)
  JOIN pre p USING (w1)
  JOIN unic u ON u.word = b.w2
  CROSS JOIN tot t
  GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(s.n_bigrams, 0) AS n_bigrams,
       s.avg_neg_logprob
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


# --- asymmetric containment dedup ------------------------------------------

_CONT_DF_CAP = 50
_CONT_THRESHOLD = 0.8


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: doc A is (near-)CONTAINED in doc B when
    |shingles(A) AND shingles(B)| / |shingles(A)| >= 0.8.  Catches
    quote-expansion and boilerplate-wrapping cases that symmetric
    Jaccard misses (a long B dilutes the union).  Same df-capped
    blocked shingle join as dedup_ngram_jaccard - candidates are
    linear in shingle postings, never all-pairs.

    Symmetric df-cap discipline (the ngram_jaccard precedent): capped
    hot shingles are dropped from BOTH the candidate join AND the
    per-doc denominator, so containment stays a true set ratio over
    the surviving shingles — dividing capped intersections by the
    uncapped count would systematically understate containment."""
    d = _t(spark, sf_dir, "documents")
    ws = words(F.col("text"))
    sh = F.array_distinct(
        F.when(
            F.size(ws) >= 3,
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - 2),
                lambda i: F.concat_ws(
                    " ", F.slice(ws, i, 3)
                ),
            ),
        )
        .when(F.size(ws) > 0, F.array(F.concat_ws(" ", ws)))
        .otherwise(F.array().cast("array<string>")),
    )
    from ..operators import dedup as _dedup

    # r14: tokenize once, at full width.  ``e`` feeds the df count AND
    # the df-cap join; un-persisted, both consumers re-ran the shingle
    # subtree (profiled at sf0.1: two ~11 s-CPU stages of the same
    # explode).  Repartitioning the RAW doc rows (a few MB) BEFORE the
    # shingle projection runs the tokenize CPU at session parallelism
    # instead of the scan's spread width, and sets the cached frame's
    # width so AQE's cached-plan coalescing cannot serialize the
    # consumers (token CPU is per-row, not per-byte).
    s = d.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    ).select("doc_id", sh.alias("sh"))
    e = _dedup._track_persist(
        s.select("doc_id", F.explode("sh").alias("tok"))
    )
    df_ok = e.groupBy("tok").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _CONT_DF_CAP
    )
    # Cache the capped postings hash(tok)-partitioned at pinned
    # width: the a/b self-join below keys on tok, so both sides read
    # the SAME co-partitioned cache and the join plans with zero
    # exchanges (and AQE cannot serialize it).
    eb = _dedup._track_persist(
        e.join(df_ok.select("tok"), "tok").repartition(
            spark.sparkContext.defaultParallelism, "tok"
        )
    )
    na_f = eb.groupBy("doc_id").agg(F.count(F.lit(1)).alias("na"))
    a = eb.select(F.col("doc_id").alias("id_a"), "tok")
    b = eb.select(F.col("doc_id").alias("id_b"), "tok")
    cand = a.join(b, "tok").filter(F.col("id_a") != F.col("id_b"))
    # Width-pinned exchange ahead of the pair count, PROFILE-GUARDED
    # (r15, closing the r14 verdict watch item 8a).  At local/test
    # scale the candidate stream is ~25 MB but its per-row agg CPU is
    # what matters — AQE byte-coalescing ran the whole count+ratio
    # tail on one task (profiled 2.3 s at sf0.1); the pin fixes that
    # (exec 7.2 -> 3.4 s) and costs nothing extra in bytes, because
    # map-side partial aggregation compresses NOTHING here (a pair's
    # duplicate contributions live in different tok-partitions:
    # measured partial-agg exchange 25.5 MB vs raw 23.2 MB).  At
    # volume the trade inverts: on a 16x-replicated corpus the final
    # agg parallelizes fine without the pin and the extra raw-pair
    # exchange is pure cost (measured 16x: pinned 162-210 s vs
    # unpinned 115 s).  So the pin applies only while the corpus
    # scans below one split — the same size guard tables._spread
    # uses to abstain at production scale.
    from ..tables import table_path, _parse_bytes, _table_bytes

    try:
        corpus_bytes = _table_bytes(table_path(sf_dir, "documents"))
    except OSError:
        corpus_bytes = 1 << 62
    max_part = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    if corpus_bytes < max_part:
        cand = cand.repartition(
            spark.sparkContext.defaultParallelism, "id_a", "id_b"
        )
    pairs = (
        cand.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(na_f, F.col("id_a") == F.col("doc_id"))
        .withColumn(
            "containment",
            F.round(F.col("n_common") / F.col("na"), 4),
        )
        .filter(F.col("containment") >= _CONT_THRESHOLD)
    )
    return pairs.select("id_a", "id_b", "containment")


SQL_DEDUP_CONTAINMENT = f"""
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words
  FROM documents
),
s AS (
  SELECT doc_id,
         CASE WHEN len(words) >= 3
              THEN list_distinct([array_to_string(words[i:i+2], ' ')
                                  FOR i IN range(1, len(words) - 1)])
              WHEN len(words) > 0 THEN [array_to_string(words, ' ')]
              ELSE [] END AS sh
  FROM w
),
e AS (
  SELECT doc_id, unnest(sh) AS tok FROM s
),
df_ok AS (
  SELECT tok FROM e GROUP BY tok HAVING count(*) <= {_CONT_DF_CAP}
),
eb AS (SELECT e.* FROM e JOIN df_ok USING (tok)),
na_f AS (
  SELECT doc_id, count(*) AS na FROM eb GROUP BY 1
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM eb a JOIN eb b USING (tok)
  WHERE a.doc_id != b.doc_id
  GROUP BY 1, 2
)
SELECT p.id_a, p.id_b,
       round(p.n_common * 1.0 / n.na, 4) AS containment
FROM pairs p JOIN na_f n ON n.doc_id = p.id_a
WHERE round(p.n_common * 1.0 / n.na, 4) >= {_CONT_THRESHOLD}
"""


# --- bounded-error quantile sketch -----------------------------------------


def q_sketch_quantile_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch vs exact: per event_type, exact
    p50/p95 of value (linear interpolation, identical in both
    engines) plus a within-10% boolean from Spark's approx_percentile
    (Greenwald-Khanna style sketch, default accuracy 10000).  Same
    bounded-error oracle pattern as sketch_hll_mergeable: the sketch
    estimate is engine-specific, so the hash-compared output is the
    exact value and the bound check.  The band is 10%: GK's guarantee
    bounds the RANK error (n/accuracy), not the value error, and a
    sparse tail converts one rank step into a large value step —
    measured 80% of a 5% band at sf0.001 (p95 of 20-value groups) vs
    <= 0.6% at the graded sf0.01/0.1, so 10% keeps >= 2.5x margin at
    every SF the drivers run (review r8 round 5).

    At 100 TB the sketch is the only viable plan: exact percentile
    sorts every group's values; the sketch aggregates per-partition
    summaries of bounded size and merges."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50_exact"),
            F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95_exact"),
            F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("a50"),
            F.percentile_approx("value", F.lit(0.95), F.lit(10000)).alias(
                "a95"
            ),
        )
        .select(
            "event_type",
            "p50_exact",
            "p95_exact",
            (
                (
                    F.abs(F.col("a50") - F.col("p50_exact"))
                    <= 0.10 * F.abs(F.col("p50_exact"))
                )
                & (
                    F.abs(F.col("a95") - F.col("p95_exact"))
                    <= 0.10 * F.abs(F.col("p95_exact"))
                )
            ).alias("approx_ok"),
        )
    )


SQL_SKETCH_QUANTILE_BOUNDED = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50_exact,
       round(quantile_cont(value, 0.95), 6) AS p95_exact,
       TRUE AS approx_ok
FROM events
GROUP BY event_type
"""


# --- IVF-PQ (IVFADC) ANN ---------------------------------------------------

_IVFPQ_CELLS = 8
_IVFPQ_PROBES = 2


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (the FAISS IVFADC architecture): a coarse quantizer
    routes each vector to one of 8 cells; the RESIDUAL (vector minus
    cell centroid) is product-quantized into 4x16-d codes.  A query
    probes its 2 nearest cells, builds a per-cell ADC lookup table
    from its own residual, and scores candidates by a 4-way table sum
    over their codes - top-5 per query.

    Why this is the 100 TB shape: the index stores M=4 bytes + a cell
    id per vector (vs 256 B of float32); query-time work is (probed
    cells' candidate lists) x (a broadcast-joined table lookup), with
    the candidate join keyed on (cell, m, code) - the cell equi-join
    is the ONLY data-sized shuffle, and a bucketed-by-cell index
    removes even that.  Residual encoding keeps PQ codebooks tight
    around each cell's local distribution, which flat PQ loses.

    Determinism: coarse assignment uses rounded-6 cosine argmax (the
    ann_ivf_topk convention); PQ distances are fixed-point micro-unit
    BIGINTs (the ann_pq_topk convention).  Seeds: cells = 8 smallest
    vec_ids, PQ codebook = 16 smallest vec_ids' residuals.

    Accuracy contract (tested): sampled codebooks guarantee correct
    CELL routing and near-duplicate retrieval (quantization error ~
    residual scale, so anything much closer than the cell's spread
    still wins); fine intra-cell ranking needs Lloyd-refined
    codebooks (kmeans_refine) — at which point the plan here is
    unchanged, only the centroid table rows differ."""
    from ..operators.similarity import ivf_assign

    e = _t(spark, sf_dir, "embeddings")
    centroids, assigned = ivf_assign(e, num_cells=_IVFPQ_CELLS)
    res = assigned.join(F.broadcast(centroids), "cell").select(
        "id",
        "cell",
        F.zip_with("v", "cv", lambda x, y: x - y).alias("r"),
    )

    # Seed the residual codebook SKIPPING the coarse-cell seed ids:
    # those vectors are their own cell centroids, so their residuals
    # are exactly zero — seeding from them degenerates half the
    # codebook into identical all-zero entries (dead codes).  The
    # exclusion anti-joins the ACTUAL seed-id set (the num_cells
    # smallest ids, ivf_assign's rule) — a bare id >= num_cells only
    # works for zero-based contiguous ids (review r8 round 5).
    seed_ids = (
        e.select(F.col("vec_id").alias("id")).orderBy("id").limit(_IVFPQ_CELLS)
    )
    pseeds = (
        res.join(F.broadcast(seed_ids), "id", "left_anti")
        .orderBy("id")
        .limit(_PQ_K)
    )
    pcb_long = _explode_subspaces(
        pseeds.select(F.col("id").alias("code"), "r"), "r", "cv", "code"
    )

    codes = (
        _explode_subspaces(res, "r", "sv", "id", "cell")
        .join(F.broadcast(pcb_long), "m")
        .withColumn(
            "d2",
            F.round(_l2(F.col("sv"), F.col("cv")) * 1000000).cast("long"),
        )
        .groupBy("id", "cell", "m")
        .agg(F.min(F.struct("d2", "code")).alias("best"))
        .select("id", "cell", "m", F.col("best.code").alias("code"))
    )

    q = e.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"),
        as_double_array(F.col("embedding")).alias("qv"),
    )
    wprobe = Window.partitionBy("qid").orderBy(
        F.col("csim").desc(), F.col("cell")
    )
    qprob = (
        q.join(F.broadcast(centroids))
        .withColumn("csim", F.round(cosine(F.col("qv"), F.col("cv")), 6))
        .withColumn("rn", F.row_number().over(wprobe))
        .filter(F.col("rn") <= _IVFPQ_PROBES)
        .select(
            "qid",
            "cell",
            F.zip_with("qv", "cv", lambda x, y: x - y).alias("rq"),
        )
    )
    lut = (
        _explode_subspaces(qprob, "rq", "qs", "qid", "cell")
        .join(F.broadcast(pcb_long), "m")
        .select(
            "qid",
            "cell",
            "m",
            "code",
            F.round(_l2(F.col("qs"), F.col("cv")) * 1000000)
            .cast("long")
            .alias("d2"),
        )
    )

    scored = (
        codes.join(F.broadcast(lut), ["cell", "m", "code"])
        .filter(F.col("qid") != F.col("id"))
        .groupBy("qid", F.col("id").alias("vec_id"))
        .agg(F.sum("d2").alias("approx_d2"))
    )
    wrank = Window.partitionBy("qid").orderBy("approx_d2", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(wrank))
        .filter(F.col("rnk") <= 5)
        .select("qid", "vec_id", "approx_d2", "rnk")
    )


def _ivfpq_sql() -> str:
    from .llm import _sql_kmeans_ctes

    ivf_ctes, ivf_assign_name = _sql_kmeans_ctes(_IVFPQ_CELLS, 0)
    dim = _PQ_M * _PQ_SUBDIM
    sub_cases = ", ".join(
        f"r[{m * _PQ_SUBDIM + 1}:{(m + 1) * _PQ_SUBDIM}] AS s{m}"
        for m in range(_PQ_M)
    )
    cb_union = " UNION ALL ".join(
        f"SELECT {m} AS m, code, s{m} AS cv FROM pcb" for m in range(_PQ_M)
    )
    sub_union = " UNION ALL ".join(
        f"SELECT id, cell, {m} AS m, s{m} AS sv FROM subv"
        for m in range(_PQ_M)
    )
    q_union = " UNION ALL ".join(
        f"SELECT qid, cell, {m} AS m, s{m} AS qs FROM qsubv"
        for m in range(_PQ_M)
    )
    l2 = (
        "CAST(round(list_sum([(a.{x}[i] - b.cv[i]) * (a.{x}[i] - b.cv[i]) "
        f"FOR i IN range(1, {_PQ_SUBDIM} + 1)]) * 1000000) AS BIGINT)"
    )
    return f"""
WITH {ivf_ctes},
res AS (
  SELECT a.id, a.cell,
         [a.v[i] - c.cv[i] FOR i IN range(1, {dim} + 1)] AS r
  FROM {ivf_assign_name} a JOIN kc0 c USING (cell)
),
pseeds AS (SELECT id, r FROM res
           WHERE id NOT IN (SELECT id FROM kb
                            ORDER BY id LIMIT {_IVFPQ_CELLS})
           ORDER BY id LIMIT {_PQ_K}),
pcb AS (SELECT id AS code, {sub_cases} FROM pseeds),
cb AS ({cb_union}),
subv AS (SELECT id, cell, {sub_cases} FROM res),
subl AS ({sub_union}),
codes AS (
  SELECT id, cell, m, code FROM (
    SELECT a.id, a.cell, a.m, b.code,
           row_number() OVER (
             PARTITION BY a.id, a.m
             ORDER BY {l2.format(x='sv')}, b.code
           ) AS rn
    FROM subl a JOIN cb b USING (m)
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id % 25 = 0
),
qprob AS (
  SELECT qid, cell,
         [qv[i] - cv[i] FOR i IN range(1, {dim} + 1)] AS rq
  FROM (
    SELECT q.qid, c.cell, q.qv, c.cv,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC,
                      c.cell
           ) AS rn
    FROM q CROSS JOIN kc0 c
  ) WHERE rn <= {_IVFPQ_PROBES}
),
qsubv AS (SELECT qid, cell, {sub_cases.replace('r[', 'rq[')} FROM qprob),
qsubl AS ({q_union}),
lut AS (
  SELECT a.qid, a.cell, a.m, b.code, {l2.format(x='qs')} AS d2
  FROM qsubl a JOIN cb b USING (m)
),
scored AS (
  SELECT l.qid, s.id AS vec_id, CAST(sum(l.d2) AS BIGINT) AS approx_d2
  FROM codes s JOIN lut l USING (cell, m, code)
  WHERE l.qid != s.id
  GROUP BY 1, 2
)
SELECT qid, vec_id, approx_d2, rnk FROM (
  SELECT qid, vec_id, approx_d2,
         CAST(row_number() OVER (
           PARTITION BY qid ORDER BY approx_d2, vec_id
         ) AS INT) AS rnk
  FROM scored
) WHERE rnk <= 5
"""


SQL_ANN_IVFPQ_TOPK = _ivfpq_sql()


# --- DSIR importance resampling --------------------------------------------

_DSIR_BUCKETS = 1024
_DSIR_TOPN = 100


def _dsir_bucket(tok):
    """Hashed n-gram feature bucket (md5-portable, like the Count-Min
    and Bloom twins)."""
    from ..functions.hashing import md5_long

    return md5_long(F.concat(F.lit("dsir:"), tok)) % _DSIR_BUCKETS


def q_select_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023, arXiv:2302.03169): score every raw document by how much it
    looks like a TARGET domain under hashed-n-gram bag-of-words
    models, then keep the top-N.  Features are unigrams + bigrams
    hashed into 1024 buckets; target/raw bucket distributions are
    Laplace-smoothed; a doc's importance is the sum of per-occurrence
    log(p_target/p_raw).

    Scale shape: the two LMs are 1024-row aggregates (broadcast); the
    scoring pass is one explode + broadcast-join + per-doc sum — no
    vocabulary-sized shuffle, no driver state.  Top-N selection is
    orderBy().limit() (distributed TakeOrderedAndProject), never a
    global window.

    Target domain here: sources src0-src4 (the same tiering the
    weighted-mix sampler uses)."""
    d = _t(spark, sf_dir, "documents")
    ws = words(F.col("text"))
    bigrams = F.zip_with(
        F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
        F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    feats = d.select(
        "doc_id",
        "source",
        F.explode(F.concat(ws, bigrams)).alias("tok"),
    ).select("doc_id", "source", _dsir_bucket(F.col("tok")).alias("b"))

    is_target = F.substring(F.col("source"), 4, 10).cast("int") < 5
    counts = feats.groupBy("b").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.when(is_target, 1).otherwise(0)).alias("n_tgt"),
    )
    totals = counts.agg(
        F.sum("n_raw").alias("tot_raw"), F.sum("n_tgt").alias("tot_tgt")
    )
    lm = counts.crossJoin(F.broadcast(totals)).select(
        "b",
        F.log(
            ((F.col("n_tgt") + 1.0) / (F.col("tot_tgt") + _DSIR_BUCKETS))
            / ((F.col("n_raw") + 1.0) / (F.col("tot_raw") + _DSIR_BUCKETS))
        ).alias("logratio"),
    )
    scored = (
        feats.join(F.broadcast(lm), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.sum("logratio"), 4).alias("log_w"),
        )
    )
    return scored.orderBy(
        F.col("log_w").desc(), F.col("doc_id")
    ).limit(_DSIR_TOPN)


SQL_SELECT_DSIR = f"""
WITH w AS (
  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z]+') AS words
  FROM documents
),
feats AS (
  SELECT doc_id, source,
         CAST(concat('0x', substr(md5('dsir:' || tok), 1, 15)) AS BIGINT)
             % {_DSIR_BUCKETS} AS b
  FROM (
    SELECT doc_id, source, unnest(words) AS tok FROM w
    UNION ALL
    SELECT doc_id, source,
           unnest([words[i] || ' ' || words[i + 1]
                   FOR i IN range(1, len(words))]) AS tok
    FROM w WHERE len(words) >= 2
  )
),
counts AS (
  SELECT b, count(*) AS n_raw,
         sum(CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 1 ELSE 0 END)
             AS n_tgt
  FROM feats GROUP BY b
),
totals AS (SELECT sum(n_raw) AS tot_raw, sum(n_tgt) AS tot_tgt FROM counts),
lm AS (
  SELECT b,
         ln(((n_tgt + 1.0) / (tot_tgt + {_DSIR_BUCKETS}))
            / ((n_raw + 1.0) / (tot_raw + {_DSIR_BUCKETS}))) AS logratio
  FROM counts CROSS JOIN totals
),
scored AS (
  SELECT f.doc_id, count(*) AS n_feats, round(sum(lm.logratio), 4) AS log_w
  FROM feats f JOIN lm USING (b)
  GROUP BY 1
)
SELECT doc_id, n_feats, log_w
FROM scored ORDER BY log_w DESC, doc_id LIMIT {_DSIR_TOPN}
"""


# --- temperature-scaled source mixing --------------------------------------

_TEMP_ALPHA_NUM = 7  # alpha = 0.7 as a rational so both engines use
_TEMP_ALPHA_DEN = 10  # identical double math: pow(n, 7/10)


def q_sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled dataset mixing (the multilingual/multi-source
    sampling rule used by large-LM data recipes): source s is sampled
    proportionally to n_s^alpha (alpha = 0.7), which up-weights small
    sources relative to raw proportional sampling.  Output: per-source
    document count, raw share, temperature share, and the effective
    per-source acceptance rate in permille (all rounded 6).

    One tiny aggregation (rows = #sources) joined broadcast onto
    nothing — the scoring is entirely within the aggregate, so this
    composes with the weighted-mix hash sampler as its rate table at
    any corpus size."""
    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = per.agg(
        F.sum("n_docs").alias("tot"),
        F.sum(
            F.pow(F.col("n_docs").cast("double"), _TEMP_ALPHA_NUM / _TEMP_ALPHA_DEN)
        ).alias("tot_pow"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round(F.col("n_docs") / F.col("tot"), 6).alias("raw_share"),
            F.round(
                F.pow(
                    F.col("n_docs").cast("double"),
                    _TEMP_ALPHA_NUM / _TEMP_ALPHA_DEN,
                )
                / F.col("tot_pow"),
                6,
            ).alias("temp_share"),
        )
        .withColumn(
            "boost",
            F.round(F.col("temp_share") / F.col("raw_share"), 6),
        )
    )


SQL_SAMPLE_TEMPERATURE_MIX = f"""
WITH per AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
),
tot AS (
  SELECT sum(n_docs) AS tot,
         sum(pow(n_docs::DOUBLE, {_TEMP_ALPHA_NUM}/{_TEMP_ALPHA_DEN})) AS tot_pow
  FROM per
)
SELECT source, n_docs,
       round(n_docs / tot, 6) AS raw_share,
       round(pow(n_docs::DOUBLE, {_TEMP_ALPHA_NUM}/{_TEMP_ALPHA_DEN}) / tot_pow, 6)
           AS temp_share,
       round(round(pow(n_docs::DOUBLE, {_TEMP_ALPHA_NUM}/{_TEMP_ALPHA_DEN}) / tot_pow, 6)
             / round(n_docs / tot, 6), 6) AS boost
FROM per CROSS JOIN tot
"""


# --- time-series gap filling ------------------------------------------------


def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly per-event_type series with explicit zero rows for
    missing hours: the monitoring/feature-store shape (downstream
    models need every bucket present).  The hour spine is generated
    with ``sequence()`` per event_type from its own [min, max] range
    (exploded — linear in spine length, no cross join against the
    fact table) and left-joined against the observed hourly counts.

    Both the spine build and the count agg shuffle on (event_type,
    hour) — bounded keys; at 100 TB the spine is thousands of rows
    per type regardless of event volume."""
    e = _t(spark, sf_dir, "events")
    hours = e.select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h"), "value"
    )
    counts = hours.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    spine = (
        hours.groupBy("event_type")
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    return spine.join(counts, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        F.coalesce(F.col("sum_value"), F.lit(0.0)).alias("sum_value"),
    )


SQL_EVENTS_GAP_FILL = """
WITH hours AS (
  SELECT event_type, date_trunc('hour', ts) AS h, value FROM events
),
counts AS (
  SELECT event_type, h, count(*) AS n, round(sum(value), 4) AS sum_value
  FROM hours GROUP BY 1, 2
),
spine AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
  FROM (
    SELECT event_type, min(h) AS lo, max(h) AS hi FROM hours GROUP BY 1
  )
)
SELECT s.event_type, s.h,
       COALESCE(c.n, 0) AS n,
       COALESCE(c.sum_value, 0.0) AS sum_value
FROM spine s LEFT JOIN counts c USING (event_type, h)
"""


QUERIES: dict[str, QuerySpec] = {
    "sample_temperature_mix": QuerySpec(
        q_sample_temperature_mix, SQL_SAMPLE_TEMPERATURE_MIX
    ),
    "events_gap_fill": QuerySpec(q_events_gap_fill, SQL_EVENTS_GAP_FILL),
    "select_dsir": QuerySpec(q_select_dsir, SQL_SELECT_DSIR),
    "ann_ivfpq_topk": QuerySpec(q_ann_ivfpq_topk, SQL_ANN_IVFPQ_TOPK),
    "embed_quantize_int8": QuerySpec(
        q_embed_quantize_int8, SQL_EMBED_QUANTIZE_INT8
    ),
    "ann_pq_topk": QuerySpec(q_ann_pq_topk, SQL_ANN_PQ_TOPK),
    "sketch_bloom_membership": QuerySpec(
        q_sketch_bloom_membership, SQL_SKETCH_BLOOM_MEMBERSHIP
    ),
    "dedup_keep_best": QuerySpec(q_dedup_keep_best, SQL_DEDUP_KEEP_BEST),
    "text_bigram_logprob": QuerySpec(
        q_text_bigram_logprob, SQL_TEXT_BIGRAM_LOGPROB
    ),
    "dedup_containment": QuerySpec(
        q_dedup_containment, SQL_DEDUP_CONTAINMENT
    ),
    "sketch_quantile_bounded": QuerySpec(
        q_sketch_quantile_bounded, SQL_SKETCH_QUANTILE_BOUNDED
    ),
}
