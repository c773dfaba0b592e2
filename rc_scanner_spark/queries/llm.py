"""LLM-training-data pipeline queries (the north star beyond the
reference's own surface, BASELINE.json): deduplication, similarity
search, text analysis, multimodal plumbing — each designed for 100 TB
(bounded candidate generation, no unbounded cross joins, no Python in
the hot path except the explicitly-Arrow-batched multimodal step).

Hash-function-dependent internals (xxhash64 MinHash/SimHash/LSH) have
no DuckDB twin -> ``sql=None`` (rows-only driver check); their
correctness is covered by pytest against brute-force ground truth.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from ..functions.vectors import cosine
from ..operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from ..operators.similarity import cosine_topk, lsh_ann_pairs
from ..operators.text import (
    BPE_RE,
    LANG_MARKERS,
    bpe_token_count,
    fingerprint,
    fingerprint_sql,
    lang_id,
    lang_id_sql,
    normalize,
    quality_columns,
    quality_score,
    quality_score_from,
    quality_score_sql,
    token_count,
    token_count_sql,
    words,
)
from . import QuerySpec, load_tuned


_t = load_tuned


# --- deduplication ----------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via normalized-text hash groupBy (one shuffle on the
    128-bit fingerprint; survivors deterministic = min id)."""
    return exact_dedup(_t(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
       min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact n-gram Jaccard near-dup: pairs within (lang,
    source) blocks with word-3-gram Jaccard >= 0.5 over the shingles
    whose per-block document frequency is <= 50.  Block keys bound the
    quadratic term; the df cap keeps one hot boilerplate shingle from
    becoming a quadratic hot key at scale (the cap is mirrored in the
    oracle SQL)."""
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        group_cols=["lang", "source"],
        shingle_k=3,
        threshold=0.5,
        max_shingle_df=50,
    )


# The ONE definition of the blocked word-shingle pair frame (the
# SQL_WORD_SHINGLES_CTE_K3 convention): word-3-gram shingles per
# (lang, source) block with the df<=50 hot-shingle cap, plus the
# per-doc shingle counts.  Every blocked-Jaccard twin builds on these
# CTE bodies instead of copying them — a tokenizer or df-cap change
# edits one site.
SQL_BLOCKED_SHINGLES_CTES = """w AS (
  SELECT doc_id, lang, source,
         regexp_extract_all(lower(text), '[a-z]+') AS words
  FROM documents
),
s AS (
  SELECT doc_id, lang, source,
         CASE WHEN len(words) >= 3
              THEN list_distinct([array_to_string(words[i:i+2], ' ')
                                  FOR i IN range(1, len(words) - 1)])
              WHEN len(words) > 0 THEN [array_to_string(words, ' ')]
              ELSE [] END AS sh
  FROM w
),
e AS (SELECT doc_id, lang, source, unnest(sh) AS shingle FROM s),
d AS (SELECT lang, source, shingle, count(*) AS df
      FROM e GROUP BY 1, 2, 3),
kept AS (
  SELECT e.doc_id, e.lang, e.source, e.shingle
  FROM e JOIN d USING (lang, source, shingle)
  WHERE d.df <= 50
),
counts AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY 1)"""

# the shared-shingle pair count over the kept frame (the common CTE
# both the Jaccard report and the degree-stats graph build on)
SQL_SHINGLE_COMMON_CTE = """common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM kept a JOIN kept b
    ON a.lang = b.lang AND a.source = b.source
   AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""

SQL_DEDUP_NGRAM_JACCARD = f"""
WITH {SQL_BLOCKED_SHINGLES_CTES},
{SQL_SHINGLE_COMMON_CTE}
SELECT id_a, id_b,
       round(n_common * 1.0 / (ca.n_sh + cb.n_sh - n_common), 4) AS jaccard
FROM common
JOIN counts ca ON ca.doc_id = id_a
JOIN counts cb ON cb.doc_id = id_b
WHERE round(n_common * 1.0 / (ca.n_sh + cb.n_sh - n_common), 4) >= 0.5
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the production shape: a new ingest
    batch (doc_id % 10 == 0 stands in for it) is deduped *against the
    existing corpus* via a fingerprint anti-join, then within itself.
    The corpus side projects to just the 128-bit fingerprint before the
    join, so at 100 TB the shuffle carries 16 bytes/doc (or the corpus
    fingerprint set ships as a bloom/broadcast filter when it fits)."""
    d = _t(spark, sf_dir, "documents")
    fps = d.select("doc_id", F.md5(normalize(F.col("text"))).alias("fp"))
    corpus = fps.filter(F.col("doc_id") % 10 != 0)
    batch = fps.filter(F.col("doc_id") % 10 == 0)
    fresh = batch.join(corpus.select("fp"), "fp", "left_anti")
    return fresh.groupBy("fp").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_in_batch"),
    )


SQL_DEDUP_INCREMENTAL = """
WITH f AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
)
SELECT fp, min(doc_id) AS keep_id, count(*) AS n_in_batch
FROM f b
WHERE doc_id % 10 = 0
  AND NOT EXISTS (SELECT 1 FROM f c
                  WHERE c.doc_id % 10 != 0 AND c.fp = b.fp)
GROUP BY fp
"""


def q_sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val split by key hash — the reproducible
    alternative to ``df.sample()`` for training pipelines: the split is
    a pure function of doc_id (md5 prefix mod 100), so it is stable
    across runs, engines, partitionings, and incremental re-ingests
    (a re-ingested doc always lands in the same split).  No shuffle:
    the bucket is a map-side projection."""
    d = _t(spark, sf_dir, "documents")
    bucket = md5_long(F.col("doc_id").cast("string"), n_hex=4) % 100
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 90, F.lit("train")).otherwise(F.lit("val")).alias("split"),
    )


SQL_SAMPLE_HASH_SPLIT = """
SELECT doc_id,
       CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
         % 100 AS bucket,
       CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                      AS BIGINT) % 100 < 90
            THEN 'train' ELSE 'val' END AS split
FROM documents
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (32 perms) + LSH banding (8 bands x 4 rows) near-dup —
    the scale path: one shuffle on band buckets, candidates verified
    with exact Jaccard >= 0.5.  xxhash64-based -> no SQL oracle;
    recall vs brute force covered in tests/test_dedup.py."""
    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        num_hashes=32,
        bands=8,
        shingle_k=3,
        verify_threshold=0.5,
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup (hamming <= 3, where the 4x16-bit chunk
    LSH is recall-complete by pigeonhole).  xxhash64 bit votes -> no
    SQL oracle."""
    return simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: pairs with cosine >= 0.4 among a keyed
    subset (vec_id % 5 = 0).  The subset keeps the demo cross join
    bounded; the production path is lsh_ann_pairs."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("sim", F.round(cosine(F.col("va"), F.col("vb")), 4))
        .filter(F.col("sim") >= 0.4)
        .select("id_a", "id_b", "sim")
    )


SQL_DEDUP_EMBEDDING_COSINE = """
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
           AS sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
      >= 0.4
"""


# --- similarity search ------------------------------------------------------


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 per query vector (queries = vec_id %
    25 = 0, broadcast).  Exact baseline for the ANN variants."""
    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(e, queries, k=5)


# Shared CTE body for the exact cosine top-5 arm (query set
# vec_id % 25 = 0): ONE definition serving the ANN baseline twin
# below and the sign-ANN recall-eval twin (queries/llm4.py), so the
# rounding, tie-break, k, and query-set rule can never drift between
# the registry shape and the evaluation that claims to measure it.
SQL_COSINE_TOPK_CTES = """q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id % 25 = 0),
cosine_topk AS (
  SELECT query_id, vec_id, sim, rank FROM (
    SELECT q.query_id, v.vec_id,
           round(list_cosine_similarity(q.qv::DOUBLE[], v.embedding::DOUBLE[]), 4) AS sim,
           CAST(row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY round(list_cosine_similarity(q.qv::DOUBLE[], v.embedding::DOUBLE[]), 4) DESC,
                        v.vec_id) AS INTEGER) AS rank
    FROM q CROSS JOIN embeddings v
  ) WHERE rank <= 5
)"""


SQL_ANN_COSINE_TOPK = f"""
WITH {SQL_COSINE_TOPK_CTES}
SELECT query_id, vec_id, sim, rank FROM cosine_topk
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed cosine top-5 (16 cells, 4 probes): each query scores
    only ~1/4 of the corpus.  Every float that influences a decision is
    rounded (centroid sim to 6, output sim to 4) before comparison, so
    the unrolled SQL twin reproduces the assignment/probe/rank
    decisions exactly."""
    from ..operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(e, queries, k=5, num_cells=16, num_probes=4)


def q_dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH with engine-portable (md5-derived) hashes: the SQL
    oracle replays the exact signature mins, band buckets, candidate
    pairs, and Jaccard verification — putting the LSH *mechanism*
    under the external hash-match gate (the xxhash64 form stays the
    production/headline operator)."""
    from ..operators.dedup import minhash_lsh_pairs_portable

    return minhash_lsh_pairs_portable(
        _t(spark, sf_dir, "documents"),
        num_hashes=16,
        bands=4,
        shingle_k=3,
        verify_threshold=0.5,
    )


# the DuckDB twin of operators.dedup.word_shingles (k = 3): w/s CTE
# bodies shared by every portable-MinHash oracle (llm.py,
# warehouse14.py) — one copy of the verified shingle idiom.
SQL_WORD_SHINGLES_CTE_K3 = """w AS (
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
)"""


def _sql_minhash_portable(num_hashes: int = 16, bands: int = 4) -> str:
    rpb = num_hashes // bands

    def ph(arg: str) -> str:
        return f"CAST(concat('0x', substr(md5({arg}), 1, 15)) AS BIGINT)"

    sig_cols = ",\n         ".join(
        "min({h}) AS h{s}".format(h=ph("'{}:' || shingle".format(s)), s=s)
        for s in range(num_hashes)
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, {bucket} AS bucket FROM sig".format(
            b=b,
            bucket=ph(
                " || ':' || ".join(
                    f"CAST(h{b * rpb + i} AS VARCHAR)" for i in range(rpb)
                )
            ),
        )
        for b in range(bands)
    )
    _ws = SQL_WORD_SHINGLES_CTE_K3
    return f"""
WITH {_ws},
e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
sig AS (
  SELECT doc_id, count(*) AS n_sh,
         {sig_cols}
  FROM e GROUP BY doc_id
),
banded AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
common AS (
  SELECT a.doc_id AS ca, b.doc_id AS cb, count(*) AS n_common
  FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b,
       round(COALESCE(m.n_common, 0) * 1.0
             / (sa.n_sh + sb.n_sh - COALESCE(m.n_common, 0)), 4) AS jaccard
FROM cand c
LEFT JOIN common m ON m.ca = c.id_a AND m.cb = c.id_b
JOIN sig sa ON sa.doc_id = c.id_a
JOIN sig sb ON sb.doc_id = c.id_b
WHERE round(COALESCE(m.n_common, 0) * 1.0
            / (sa.n_sh + sb.n_sh - COALESCE(m.n_common, 0)), 4) >= 0.5
"""


SQL_DEDUP_MINHASH_PORTABLE = _sql_minhash_portable()


def q_dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with md5-derived word hashes (60 bit-votes, 4 x 15-bit
    chunks): pure integer arithmetic end to end, so the oracle replays
    every vote, chunk, candidate, and Hamming distance exactly."""
    from ..operators.dedup import simhash_pairs_portable

    return simhash_pairs_portable(
        _t(spark, sf_dir, "documents"), max_hamming=2
    )


def _sql_simhash_portable(max_hamming: int = 2) -> str:
    ph = "CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT)"
    vote_cols = ",\n         ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(60)
    )
    chunk_cols = ",\n         ".join(
        "("
        + " + ".join(
            f"CASE WHEN v{c * 15 + i} > 0 THEN {1 << i} ELSE 0 END"
            for i in range(15)
        )
        + f") AS c{c}"
        for c in range(4)
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT id, c0, c1, c2, c3, {c} AS chunk, c{c} AS val FROM sig"
        for c in range(4)
    )
    hamming = " + ".join(f"bit_count(xor(a.c{c}, b.c{c}))" for c in range(4))
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id AS id,
         unnest(list_distinct(regexp_extract_all(lower(text), '[a-z]+'))) AS w
  FROM documents
),
hashed AS (SELECT id, {ph} AS h FROM toks),
votes AS (
  SELECT id,
         {vote_cols}
  FROM hashed GROUP BY id
),
sig AS (
  SELECT id,
         {chunk_cols}
  FROM votes
),
banded AS (
{band_selects}
),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         CAST({hamming} AS INT) AS hamming
  FROM banded a JOIN banded b
    ON a.chunk = b.chunk AND a.val = b.val AND a.id < b.id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming}
"""


SQL_DEDUP_SIMHASH_PORTABLE = _sql_simhash_portable()


def q_ann_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane LSH with integer-exact signatures: fixed-point
    embeddings (x 1e6), md5-derived plane signs — sign(dot) cannot
    diverge on float summation order, so the oracle replays the exact
    buckets; candidate verification is rounded cosine like the other
    similarity oracles."""
    from ..operators.similarity import lsh_ann_pairs_portable

    return lsh_ann_pairs_portable(
        _t(spark, sf_dir, "embeddings"),
        num_planes=12,
        num_tables=2,
        threshold=0.3,
    )


def _sql_lsh_portable(num_planes: int = 12, num_tables: int = 2) -> str:
    def dot(t: int, p: int) -> str:
        h = (
            "CAST(concat('0x', substr(md5('{t}:{p}:' || CAST(i AS VARCHAR)), 1, 15))"
            " AS BIGINT)".format(t=t, p=p)
        )
        return (
            "list_sum([CASE WHEN ({h}) & 1 = 1 THEN fx[i+1] ELSE -fx[i+1] END "
            "FOR i IN range(0, len(fx))])".format(h=h)
        )

    def sig(t: int) -> str:
        return (
            "("
            + " + ".join(
                f"CASE WHEN ({dot(t, p)}) > 0 THEN {1 << p} ELSE 0 END"
                for p in range(num_planes)
            )
            + f") AS sig{t}"
        )

    sig_cols = ",\n         ".join(sig(t) for t in range(num_tables))
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT id, v, {t} AS tbl, sig{t} AS sig FROM sigs"
        for t in range(num_tables)
    )
    return f"""
WITH base AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
         [CAST(round(x * 1000000) AS BIGINT) FOR x IN embedding::DOUBLE[]] AS fx
  FROM embeddings
),
sigs AS (
  SELECT id, v,
         {sig_cols}
  FROM base
),
banded AS (
{band_selects}
),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.v AS va, b.v AS vb
  FROM banded a JOIN banded b
    ON a.tbl = b.tbl AND a.sig = b.sig AND a.id < b.id
)
SELECT id_a, id_b,
       round(list_cosine_similarity(va, vb), 4) AS sim
FROM pairs
WHERE round(list_cosine_similarity(va, vb), 4) >= 0.3
"""


SQL_ANN_LSH_PORTABLE = _sql_lsh_portable()


def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered similarity search: top-5 by cosine among
    vectors sharing the query's label — the retrieval pattern behind
    filtered vector search.  The label equality turns the cross join
    into a *blocked* equi-join (cost |Q| x |N|/n_labels), and at scale
    the vector table bucketed by label makes it shuffle-free."""
    from ..functions.vectors import dot, norm

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    v = e.select(
        F.col("vec_id").alias("vec_id"),
        "label",
        F.col("embedding").cast("array<double>").alias("vv"),
    )
    # Norms precompute PER SIDE before the join (|Q| + |V| folds, not
    # one per joined pair) — the cosine_topk discipline.
    q = q.withColumn("qn", norm(F.col("qv")))
    v = v.withColumn("vn", norm(F.col("vv")))
    scored = (
        q.join(v, q["qlabel"] == v["label"])
        .select(
            "query_id",
            "vec_id",
            F.round(
                F.when(
                    F.col("qn") * F.col("vn") != 0,
                    dot(F.col("qv"), F.col("vv")) / (F.col("qn") * F.col("vn")),
                ),
                4,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id", "sim", "rank")
    )


SQL_ANN_FILTERED_TOPK = """
WITH q AS (SELECT vec_id AS query_id, label AS qlabel, embedding AS qv
           FROM embeddings WHERE vec_id % 25 = 0)
SELECT query_id, vec_id, sim, rank FROM (
  SELECT q.query_id, v.vec_id,
         round(list_cosine_similarity(q.qv::DOUBLE[], v.embedding::DOUBLE[]), 4)
           AS sim,
         CAST(row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_cosine_similarity(q.qv::DOUBLE[],
                                                   v.embedding::DOUBLE[]), 4)
                        DESC, v.vec_id) AS INTEGER) AS rank
  FROM q JOIN embeddings v ON v.label = q.qlabel
) WHERE rank <= 5
"""


def _sql_kmeans_ctes(num_cells: int, iters: int) -> tuple[str, str]:
    """Unrolled Lloyd iteration as DuckDB CTE text: returns (ctes,
    final_assign_name).  Mirrors operators/similarity.kmeans_refine
    decision-for-decision: seeds = ``num_cells`` smallest ids, csim
    rounded to 6 before the argmax (tie -> lowest cell), per-dimension
    centroid means on the exact-integer micro-grid each round
    (quantize to 1e-6 units, order-independent integer sum, truncating
    mean — the r8 rework that replaced the float round(avg, 6))."""

    def assign(name: str, cents: str) -> str:
        return f"""
{name} AS (
  SELECT id, v, cell, csim FROM (
    SELECT b.id, b.v, c.cell,
           round(list_cosine_similarity(b.v, c.cv), 6) AS csim,
           row_number() OVER (
             PARTITION BY b.id
             ORDER BY round(list_cosine_similarity(b.v, c.cv), 6) DESC, c.cell
           ) AS rn
    FROM kb b CROSS JOIN {cents} c
  ) WHERE rn = 1
)"""

    def recompute(name: str, assigned: str) -> str:
        # exact-integer micro-grid means (mirror of kmeans_refine r8:
        # order-independent integer sums, no float-avg boundary flips)
        return f"""
{name} AS (
  SELECT cell, list(val ORDER BY pos) AS cv FROM (
    SELECT cell, pos,
           floor(CAST(sum(CAST(floor(val * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
                 / count(*) + 0.5) / 1e6 AS val
    FROM (
      SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS val
      FROM {assigned}
    ) GROUP BY cell, pos
  ) GROUP BY cell
)"""

    parts = [
        "kb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""kc0 AS (
  SELECT row_number() OVER (ORDER BY id) - 1 AS cell, v AS cv
  FROM (SELECT id, v FROM kb ORDER BY id LIMIT {num_cells})
)""",
    ]
    for i in range(iters):
        parts.append(assign(f"ka{i + 1}", f"kc{i}"))
        parts.append(recompute(f"kc{i + 1}", f"ka{i + 1}"))
    final = f"ka{iters + 1}"
    parts.append(assign(final, f"kc{iters}"))
    return ",\n".join(parts), final


_KMEANS_CTES_8_3, _KMEANS_FINAL_8_3 = _sql_kmeans_ctes(8, 3)
_KMEANS_CTES_8_2, _KMEANS_FINAL_8_2 = _sql_kmeans_ctes(8, 2)
_IVF_CTES, _IVF_ASSIGN = _sql_kmeans_ctes(16, 0)

SQL_CLUSTER_KMEANS = f"""
WITH {_KMEANS_CTES_8_3}
SELECT cell, count(*) AS n_vectors,
       floor(CAST(sum(CAST(floor(csim * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
             / count(*) / 1e3 + 0.5) / 1e3 AS mean_cosine
FROM {_KMEANS_FINAL_8_3} GROUP BY cell
"""

SQL_DEDUP_SEMANTIC = f"""
WITH {_KMEANS_CTES_8_2},
links AS (
  SELECT hi.id AS id_hi, min(lo.id) AS dup_of
  FROM {_KMEANS_FINAL_8_2} lo JOIN {_KMEANS_FINAL_8_2} hi USING (cell)
  WHERE lo.id < hi.id
    AND round(list_cosine_similarity(lo.v, hi.v), 4) >= 0.7
  GROUP BY hi.id
)
SELECT a.id, a.cell, l.dup_of, l.dup_of IS NULL AS is_kept
FROM {_KMEANS_FINAL_8_2} a LEFT JOIN links l ON l.id_hi = a.id
"""

SQL_ANN_IVF_TOPK = f"""
WITH {_IVF_CTES},
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id % 25 = 0),
probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, c.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC, c.cell
           ) AS rn
    FROM q CROSS JOIN kc0 c
  ) WHERE rn <= 4
)
SELECT query_id, vec_id, sim, rank FROM (
  SELECT p.query_id, a.id AS vec_id,
         round(list_cosine_similarity(p.qv, a.v), 4) AS sim,
         CAST(row_number() OVER (
             PARTITION BY p.query_id
             ORDER BY round(list_cosine_similarity(p.qv, a.v), 4) DESC, a.id
         ) AS INTEGER) AS rank
  FROM probes p JOIN {_IVF_ASSIGN} a USING (cell)
) WHERE rank <= 5
"""


def q_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed near-neighbor pairs (cosine >= 0.35,
    12 planes x 4 tables).  Deterministic Rademacher planes from
    xxhash64 -> no SQL oracle; recall vs brute force in tests."""
    return lsh_ann_pairs(
        _t(spark, sf_dir, "embeddings"),
        num_planes=12,
        num_tables=4,
        threshold=0.35,
    )


def q_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering: Lloyd-refined k-means (8 cells, 3 rounds)
    over the embedding table, reported as per-cluster size + mean
    cosine-to-centroid.  All-DataFrame iteration: assignment is a
    broadcast argmax (no vector shuffle); centroid recompute shuffles
    only K x dim partial sums.  Oracle: an UNROLLED-Lloyd SQL twin
    (SQL_CLUSTER_KMEANS) with every assignment decision made on
    rounded values so both engines pick identical cells; numpy Lloyd
    ground truth additionally in tests/test_similarity.py."""
    from ..operators.similarity import kmeans_refine

    e = _t(spark, sf_dir, "embeddings")
    _, assigned = kmeans_refine(e, num_cells=8, iters=3)
    # exact-integer mean: csim sits on a 1e-6 grid, so the micro-unit
    # sum is exact and order-independent (float avg + round(,3) could
    # flip a boundary between engines — pagerank flake class, r8)
    return assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        (
            F.floor(
                F.sum(F.floor(F.col("csim") * 1e6 + 0.5).cast("long")).cast(
                    "double"
                )
                / F.count(F.lit(1))
                / 1e3
                + 0.5
            )
            / F.lit(1e3)
        ).alias("mean_cosine"),
    )


# --- text analysis ----------------------------------------------------------


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID (operators/text.py lang_id):
    deterministic argmax with en>de>fr>es priority, CJK fast path."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


_M = LANG_MARKERS
SQL_TEXT_LANG_ID = f"""
WITH s AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '{_M["en"]}')) AS s_en,
         len(regexp_extract_all(lower(text), '{_M["de"]}')) AS s_de,
         len(regexp_extract_all(lower(text), '{_M["fr"]}')) AS s_fr,
         len(regexp_extract_all(lower(text), '{_M["es"]}')) AS s_es,
         len(regexp_extract_all(text, '[一-鿿]')) AS s_zh
  FROM documents
)
SELECT doc_id,
       CASE WHEN s_zh > 0 THEN 'zh'
            WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
            WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
            WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
            WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
            WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
            ELSE 'und' END AS lang_pred
FROM s
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring signals + composite score (operators/text.py):
    length, word count, punctuation/stopword ratios, avg word length."""
    d = _t(spark, sf_dir, "documents")
    q = quality_columns(F.col("text"))
    return d.select(
        "doc_id",
        q["n_chars"].alias("n_chars_calc"),
        q["n_words"].alias("n_words"),
        q["punct_ratio"].alias("punct_ratio"),
        q["stopword_ratio"].alias("stopword_ratio"),
        q["avg_word_len"].alias("avg_word_len"),
        # composed from the same column trees (no second derivation of
        # the ratios from raw text; with the rounds shared, codegen CSE
        # collapses the duplicates)
        quality_score_from(q).alias("quality"),
    )


SQL_TEXT_QUALITY = f"""
WITH m AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars_calc,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_words,
         len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
         len(regexp_extract_all(lower(text), '{_M["en"]}')) AS n_stop,
         length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]', '', 'g'))
             AS n_nonspace
  FROM documents
),
r AS (
  SELECT doc_id, n_chars_calc, n_words,
         round(n_punct / CASE WHEN n_words > 0 THEN CAST(n_words AS DOUBLE) END, 4)
             AS punct_ratio,
         round(n_stop / CASE WHEN n_words > 0 THEN CAST(n_words AS DOUBLE) END, 4)
             AS stopword_ratio,
         round(n_nonspace / CASE WHEN n_words > 0 THEN CAST(n_words AS DOUBLE) END, 4)
             AS avg_word_len
  FROM m
)
SELECT doc_id, n_chars_calc, n_words, punct_ratio, stopword_ratio, avg_word_len,
       round(least(n_words / 50.0, 1.0) * 0.4
             + coalesce(stopword_ratio, 0.0) * 0.4
             + least(coalesce(punct_ratio, 0.0) * 5, 1.0) * 0.2, 4) AS quality
FROM r
"""


def sql_quality_ctes(extra_cols: str = "", with_fp: bool = False) -> str:
    """Shared DuckDB twin of ``operators/text.quality_score``: an
    ``m``/``q`` CTE pair where ``q`` exposes (doc_id, quality[, fp]
    [, extra_cols]).  Every twin that gates or bands on the composite
    quality score builds from THIS block (the SQL_WORD_SHINGLES_CTE_K3
    convention) instead of copying it — a weight or marker change then
    edits one site.  SQL_TEXT_QUALITY above stays standalone because it
    also exports the intermediate ratio columns."""
    ec = f", {extra_cols}" if extra_cols else ""
    fp = (
        ",\n         substring(md5(trim(regexp_replace(lower(text), "
        "'\\s+', ' ', 'g'))), 1, 16) AS fp"
        if with_fp
        else ""
    )
    return f"""m AS (
  SELECT doc_id{ec}, text,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_words,
         len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
         len(regexp_extract_all(lower(text), '{_M["en"]}')) AS n_stop
  FROM documents
),
q AS (
  SELECT doc_id{ec},
         round(least(n_words / 50.0, 1.0) * 0.4
               + coalesce(round(n_stop / CASE WHEN n_words > 0
                                              THEN CAST(n_words AS DOUBLE) END, 4),
                          0.0) * 0.4
               + least(coalesce(round(n_punct / CASE WHEN n_words > 0
                                                     THEN CAST(n_words AS DOUBLE) END, 4),
                                0.0) * 5, 1.0) * 0.2, 4) AS quality{fp}
  FROM m
)"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals for corpus filtering: duplicate
    2-gram fraction, distinct-token ratio, and the most-frequent
    2-gram's share of all 2-grams.  The ratio columns are pure
    map-side Catalyst array expressions (no shuffle); the top-2-gram
    count goes through explode -> (doc, bigram) hash-agg -> per-doc
    max — linear in corpus size, never quadratic in document length,
    so a 100 k-token document costs the same per token as a 100-token
    one."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.round(
            F.size(F.array_distinct(toks)) / F.size(toks).cast("double"), 4
        ).alias("distinct_token_ratio"),
        bigrams.alias("bigrams"),
    ).withColumn("n_bigrams", F.size("bigrams").cast("bigint"))
    dup = base.withColumn(
        "dup_bigram_frac",
        F.when(
            F.col("n_bigrams") > 0,
            F.round(
                (F.col("n_bigrams") - F.size(F.array_distinct("bigrams")))
                / F.col("n_bigrams").cast("double"),
                4,
            ),
        ),
    )
    top = (
        base.select("doc_id", F.explode("bigrams").alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_bigram_n"))
    )
    return (
        dup.drop("bigrams")
        .join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_bigrams",
            "distinct_token_ratio",
            "dup_bigram_frac",
            F.coalesce("top_bigram_n", F.lit(0)).cast("bigint").alias("top_bigram_n"),
            F.when(
                F.col("n_bigrams") > 0,
                F.round(
                    F.coalesce("top_bigram_n", F.lit(0))
                    / F.col("n_bigrams").cast("double"),
                    4,
                ),
            ).alias("top_bigram_frac"),
        )
    )


SQL_TEXT_REPETITION = """
WITH t AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
), b AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         round(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 4)
           AS distinct_token_ratio,
         list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
           AS bigrams
  FROM t
), m AS (
  SELECT doc_id, n_tokens, distinct_token_ratio,
         CAST(len(bigrams) AS BIGINT) AS n_bigrams,
         CASE WHEN len(bigrams) > 0 THEN
           round((len(bigrams) - len(list_distinct(bigrams)))
                 / CAST(len(bigrams) AS DOUBLE), 4) END AS dup_bigram_frac
  FROM b
), topb AS (
  SELECT doc_id, max(cnt) AS top_bigram_n
  FROM (SELECT doc_id, bg, count(*) AS cnt
        FROM (SELECT doc_id, unnest(bigrams) AS bg FROM b) u
        GROUP BY doc_id, bg) e
  GROUP BY doc_id
)
SELECT m.doc_id, n_tokens, n_bigrams, distinct_token_ratio, dup_bigram_frac,
       CAST(coalesce(top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
       CASE WHEN n_bigrams > 0 THEN
         round(coalesce(top_bigram_n, 0) / CAST(n_bigrams AS DOUBLE), 4)
       END AS top_bigram_frac
FROM m LEFT JOIN topb ON m.doc_id = topb.doc_id
"""


def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).cast("int").alias("n_ws_tokens"),
        bpe_token_count(F.col("text")).cast("int").alias("n_bpe_tokens"),
    )


SQL_TEXT_TOKEN_COUNT = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[^ \\t\\n\\x0B\\f\\r]+')) AS INTEGER) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS INTEGER) AS n_bpe_tokens
FROM documents
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5-of-normalized-text (first 64 bits)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


SQL_TEXT_FINGERPRINT = """
SELECT doc_id,
       substring(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 16) AS fp
FROM documents
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document — tokenize (explode), tf
    groupBy, document frequency as a count-window over the tf frame
    (tf has one row per (doc, term), so count-per-term == distinct
    docs — one shuffle instead of a groupBy + join back), broadcast
    doc count, window top-k."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)).alias(
            "term"
        ),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # n_docs == count of distinct docs contributing at least one term.
    # Computing it as countDistinct over the tf frame duplicated the
    # whole tokenize-explode-aggregate subtree into the broadcast
    # branch (r14 profile: a second 6-task explode + two hash-agg
    # stages, ~1.3 s executor time at sf0.1, and a second full text
    # scan + explode at any scale).  A doc contributes a tf row iff it
    # has >= 1 [a-z]+ token, so the identical value comes from one
    # countDistinct over the raw scan gated on regexp_count > 0 — no
    # explode, no groupBy, partial aggregation map-side.
    n_docs = d.agg(
        F.countDistinct(
            F.when(
                F.regexp_count(F.lower(F.col("text")), F.lit("[a-z]+")) > 0,
                F.col("doc_id"),
            )
        ).alias("n_docs")
    )
    # r14: width-pinned repartitions replace the two windows'
    # ENSURE_REQUIREMENTS exchanges (same rows moved over the same
    # keys).  The term-df and per-doc-rank windows are per-row CPU on
    # a ~1 MB shuffle, so AQE byte-coalescing ran each as ONE task
    # (the batch-1 "no scale-honest local fix identified" item — the
    # pinned-width user exchange IS that fix, and at cluster scale it
    # is the same exchange the planner inserts anyway).
    width = spark.sparkContext.defaultParallelism
    w_df = Window.partitionBy("term")
    scored = (
        tf.repartition(width, "term")
        .withColumn("df", F.count(F.lit(1)).over(w_df))
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1), 4
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.repartition(width, "doc_id")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
    )


SQL_TFIDF_TOP_TERMS = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * (ln((n.n_docs + 1) / (df.df + 1)) + 1), 4) AS tfidf
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
)
SELECT doc_id, term, tfidf,
       CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 3
"""


def q_llm_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data prep pipeline as ONE Catalyst plan:
    language-ID + quality scoring + token counting (all map-side) ->
    quality filter -> exact dedup (min-id survivor per fingerprint) ->
    per-language corpus stats.

    Shuffle count at any scale: exactly two (fingerprint dedup
    aggregate, final language aggregate); everything upstream is
    scan-fused.  The dedup is min(struct(doc_id, ...)) — doc_id leads
    the struct and is unique, so the min IS the min-doc_id survivor
    row — rather than a row_number window: the hash aggregate gets
    map-side partial aggregation and skips the window's per-partition
    sort entirely (A/B r7: identical rows, ~8% faster warm at sf0.1,
    and the far better shape at 100 TB where sorting every shuffle
    partition dominates).

    The enriched projection is a selectExpr over the SQL-string twins
    of the text helpers (values pytest-pinned identical to the Column
    forms): building the same projection from F.* Columns costs
    ~0.2-0.4 s of py4j round-trips per fresh plan — pure driver-side
    overhead the grading bench pays on every pass (PLANS.md r8)."""
    d = _t(spark, sf_dir, "documents")
    enriched = d.selectExpr(
        "doc_id",
        f"{lang_id_sql('text')} AS lang_pred",
        f"{quality_score_sql('text')} AS quality",
        f"CAST({token_count_sql('text')} AS BIGINT) AS n_tokens",
        f"{fingerprint_sql('text')} AS fp",
    ).filter(F.col("quality") >= 0.35)
    survivors = (
        enriched.groupBy("fp")
        .agg(
            F.min(
                F.struct("doc_id", "lang_pred", "quality", "n_tokens")
            ).alias("s")
        )
        .select("s.*")
    )
    return survivors.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
    )


SQL_LLM_PREP_PIPELINE = f"""
WITH s AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '{_M["en"]}')) AS s_en,
         len(regexp_extract_all(lower(text), '{_M["de"]}')) AS s_de,
         len(regexp_extract_all(lower(text), '{_M["fr"]}')) AS s_fr,
         len(regexp_extract_all(lower(text), '{_M["es"]}')) AS s_es,
         len(regexp_extract_all(text, '[一-鿿]')) AS s_zh
  FROM documents
),
lang AS (
  SELECT doc_id,
         CASE WHEN s_zh > 0 THEN 'zh'
              WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
              WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
              WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
              WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
              WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
              ELSE 'und' END AS lang_pred
  FROM s
),
{sql_quality_ctes()},
base AS (
  SELECT d.doc_id, lang_pred, quality,
         CAST(len(regexp_extract_all(d.text, '[^ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tokens,
         substring(md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))), 1, 16)
             AS fp
  FROM documents d
  JOIN lang USING (doc_id)
  JOIN q USING (doc_id)
  WHERE quality >= 0.35
),
surv AS (
  SELECT * FROM base
  QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
)
SELECT lang_pred, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(quality), 4) AS avg_quality
FROM surv
GROUP BY lang_pred
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary media payloads
    (operators/multimodal.extract_features): the ONE deliberate Python
    stage in the engine — mapInPandas at the codec boundary.  The fake
    codec is deterministic per-byte arithmetic, so the oracle replays
    it in SQL via hex-chunk list comprehensions; feature_sum has at
    most 3 true decimals, so the float32 round-trip (error ~1e-7)
    cannot flip the 4-digit round."""
    from ..operators.multimodal import attach_fake_media, extract_features

    d = _t(spark, sf_dir, "documents")
    feats = extract_features(attach_fake_media(d))
    return feats.select(
        "doc_id",
        "n_bytes",
        "checksum",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 4).alias(
            "feature_sum"
        ),
    )


SQL_MULTIMODAL_FEATURES = """
WITH m AS (SELECT doc_id, text, encode(text) AS media FROM documents),
h AS (SELECT doc_id, text, hex(media) AS hx,
             CAST(octet_length(media) AS INT) AS nb
      FROM m)
SELECT doc_id, CAST(nb AS BIGINT) AS n_bytes, md5(text) AS checksum,
       round(list_sum([COALESCE(list_sum(
                          [CAST('0x' || substr(hx, 2*i+1, 2) AS INT)
                           FOR i IN range(k, nb, 8)]), 0) % 1000
                       FOR k IN range(0, 8)]) / 1000.0, 4) AS feature_sum
FROM h
"""


def q_multimodal_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (operators/multimodal.frame_sample_plan):
    (doc_id, duration) -> one row per sampled frame timestamp, pure
    sequence+explode.  Durations derived deterministically from doc_id
    so the oracle can replay them."""
    from ..operators.multimodal import frame_sample_plan

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    media = d.select(
        "doc_id",
        ((F.col("doc_id") % 5) * 1500 + 500).cast("long").alias("duration_ms"),
    )
    return frame_sample_plan(media, every_ms=1000)


SQL_MULTIMODAL_FRAME_PLAN = """
SELECT doc_id, unnest(range(0, (doc_id % 5) * 1500 + 500 + 1, 1000)) AS frame_ts_ms
FROM documents
WHERE doc_id % 7 = 0
"""


def q_multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, oracle-checkable slice: binary payload
    column (utf-8 of text as a deterministic stand-in) with byte
    length, checksum and head-bytes hex.  The mapInPandas feature
    extraction over the same column is exercised in tests
    (operators/multimodal.py)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.octet_length(F.col("text")).cast("long").alias("n_bytes"),
        F.md5(F.col("text")).alias("checksum"),
        F.hex(F.encode(F.substring(F.col("text"), 1, 8), "utf-8")).alias("head_hex"),
    )


SQL_MULTIMODAL_BINARY_META = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS checksum,
       hex(encode(substring(text, 1, 8))) AS head_hex
FROM documents
"""


# --- round-2 additions: contamination, paragraph/semantic dedup, PII,
# --- source-weighted mixing ------------------------------------------------


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word
    8-gram with the benchmark set (doc_id % 17 == 0 stands in for the
    eval suite) are flagged.  The benchmark shingle set is distinct'd
    and broadcast — at 100 TB the corpus side never shuffles."""
    from ..operators.dedup import decontaminate

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 17 == 0)
    train = d.filter(F.col("doc_id") % 17 != 0)
    return decontaminate(train, bench, shingle_k=8)


SQL_DECONTAMINATE = """
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words
  FROM documents
),
s AS (
  SELECT doc_id,
         CASE WHEN len(words) >= 8
              THEN list_distinct([array_to_string(words[i:i+7], ' ')
                                  FOR i IN range(1, len(words) - 6)])
              WHEN len(words) > 0 THEN [array_to_string(words, ' ')]
              ELSE [] END AS sh
  FROM w
),
e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
bench AS (SELECT DISTINCT shingle FROM e WHERE doc_id % 17 = 0),
hits AS (
  SELECT e.doc_id, count(*) AS n
  FROM e JOIN bench USING (shingle)
  WHERE e.doc_id % 17 != 0
  GROUP BY 1
)
SELECT d.doc_id AS id,
       COALESCE(h.n, 0) AS n_contaminated,
       COALESCE(h.n, 0) = 0 AS is_clean
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.doc_id % 17 != 0
"""


def q_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level dedup (C4-style boilerplate removal): drop any
    15-word pseudo-paragraph appearing in more than one document,
    reassemble the survivors in order.  The paragraph-frequency shuffle
    moves 8-byte hashes, and the hot set joined back is broadcast-small
    by construction."""
    from ..operators.dedup import paragraph_dedup

    return paragraph_dedup(
        _t(spark, sf_dir, "documents"), words_per_para=15, max_para_df=1
    )


SQL_DEDUP_PARAGRAPH = """
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words
  FROM documents
),
p AS (
  SELECT doc_id,
         CASE WHEN len(words) > 0
              THEN [array_to_string(words[(i*15+1):(i*15+15)], ' ')
                    FOR i IN range(0, CAST(ceil(len(words) / 15.0) AS INT))]
              ELSE [] END AS paras
  FROM w
),
e AS (
  SELECT doc_id,
         generate_subscripts(paras, 1) - 1 AS idx,
         unnest(paras) AS para
  FROM p
),
hot AS (SELECT para FROM e GROUP BY para HAVING count(DISTINCT doc_id) > 1),
kept AS (SELECT e.* FROM e ANTI JOIN hot USING (para)),
rebuilt AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(para, ' ' ORDER BY idx) AS clean_text
  FROM kept GROUP BY 1
),
totals AS (SELECT doc_id, len(paras) AS n_paras FROM p)
SELECT t.doc_id AS id,
       CAST(t.n_paras AS BIGINT) AS n_paras,
       CAST(t.n_paras - COALESCE(r.n_kept, 0) AS BIGINT) AS n_dropped,
       COALESCE(r.clean_text, '') AS clean_text
FROM totals t LEFT JOIN rebuilt r USING (doc_id)
"""


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: k-means cluster the embeddings
    (k=8, 2 Lloyd iterations, deterministic seeds), prune within-cluster
    cosine >= 0.7 keeping the smallest id.  The pairwise step is
    cluster-blocked — never |N|^2.  Oracle: unrolled-Lloyd CTEs
    (SQL_DEDUP_SEMANTIC) with rounded decision floats; planted-
    duplicate ground truth additionally in tests/test_similarity.py."""
    from ..operators.similarity import semantic_dedup

    return semantic_dedup(
        _t(spark, sf_dir, "embeddings"), num_cells=8, iters=2, threshold=0.7
    )


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction as sequential Catalyst regexp passes (email ->
    IPv4 -> phone -> long id numbers), with per-category counts.  The
    synthetic corpus carries no PII, so a deterministic contact line is
    planted per doc and then scrubbed — the scrubber sees real
    patterns, and the oracle replays the identical plant + passes."""
    from ..operators.text import pii_scrub

    d = _t(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or (555) 867-53"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit(" id 1234567 at 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
    )
    cols = pii_scrub(planted)
    return d.select(
        "doc_id",
        cols["n_email"].alias("n_email"),
        cols["n_ipv4"].alias("n_ipv4"),
        cols["n_phone"].alias("n_phone"),
        cols["n_id_number"].alias("n_id_number"),
        F.md5(cols["scrubbed"]).alias("scrubbed_md5"),
    )


SQL_TEXT_PII_SCRUB = r"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or (555) 867-53'
              || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
              || ' id 1234567 at 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
           AS t0
  FROM documents
),
p1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t0,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
           AS n_email,
         regexp_replace(t0,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g') AS t1
  FROM planted
),
p2 AS (
  SELECT doc_id, n_email,
         CAST(len(regexp_extract_all(t1,
             '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ipv4,
         regexp_replace(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t2
  FROM p1
),
p3 AS (
  SELECT doc_id, n_email, n_ipv4,
         CAST(len(regexp_extract_all(t2,
             '(?:\(\d{3}\)|\b\d{3})[ .-]\d{3}[ .-]\d{4}\b')) AS BIGINT)
           AS n_phone,
         regexp_replace(t2, '(?:\(\d{3}\)|\b\d{3})[ .-]\d{3}[ .-]\d{4}\b',
                        '<PHONE>', 'g') AS t3
  FROM p2
),
p4 AS (
  SELECT doc_id, n_email, n_ipv4, n_phone,
         CAST(len(regexp_extract_all(t3, '\b\d{6,}\b')) AS BIGINT)
           AS n_id_number,
         regexp_replace(t3, '\b\d{6,}\b', '<ID>', 'g') AS t4
  FROM p3
)
SELECT doc_id, n_email, n_ipv4, n_phone, n_id_number, md5(t4) AS scrubbed_md5
FROM p4
"""


def q_sample_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted corpus mixing: per-source sampling rates (1000,
    500, 250 permille by source tier) applied via a salted md5 bucket
    of doc_id — deterministic across runs, engines, partitionings and
    re-ingests, unlike ``df.sample``.  Map-side only: no shuffle."""
    d = _t(spark, sf_dir, "documents")
    # try_cast, matching the twin's TRY_CAST: a non-'srcN' source
    # (or one shorter than 4 chars) must fall through to the 250
    # tier via NULL, not throw CAST_INVALID_INPUT under ANSI
    # (review r8 round 4)
    src_num = F.substring(F.col("source"), 4, 10).try_cast("int")
    rate = (
        F.when(src_num < 5, F.lit(1000))
        .when(src_num < 10, F.lit(500))
        .otherwise(F.lit(250))
    )
    bucket = (
        md5_long(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")), n_hex=5)
        % 1000
    )
    return d.select(
        "doc_id",
        "source",
        rate.alias("rate_permille"),
        bucket.alias("bucket"),
    ).filter(F.col("bucket") < F.col("rate_permille"))


SQL_SAMPLE_WEIGHTED_MIX = """
WITH b AS (
  SELECT doc_id, source,
         CASE WHEN TRY_CAST(substr(source, 4, 10) AS INT) < 5 THEN 1000
              WHEN TRY_CAST(substr(source, 4, 10) AS INT) < 10 THEN 500
              ELSE 250 END AS rate_permille,
         CAST(concat('0x', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 5))
              AS BIGINT) % 1000 AS bucket
  FROM documents
)
SELECT doc_id, source, rate_permille, bucket
FROM b WHERE bucket < rate_permille
"""


def cc_labeled(d: DataFrame) -> DataFrame:
    """The shared near-dup CC label frame: (doc_id, component) — docs
    sharing a first-4-words or last-4-words fingerprint are edged
    (star construction, df-capped at 100), min-label propagation
    assigns each doc the smallest reachable id, unlabeled docs are
    their own component.  ONE Python definition, mirroring the shared
    SQL_CC_LABELED_CTES twin string — consumed by q_dedup_cc_clusters
    and the purity readout (warehouse33; review r12)."""
    from ..operators.graph import connected_components, star_edges_for_key

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
    return (
        d.select("doc_id")
        .join(comp, d["doc_id"] == comp["id"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        )
    )


def q_dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup *clusters* from multi-key edges via distributed
    connected components: docs sharing a first-4-words or last-4-words
    fingerprint are edged (star construction — linear per key group,
    df-capped at 100), then min-label propagation assigns each doc the
    smallest reachable id.  Chains (A~B on the prefix key, B~C on the
    suffix key) collapse into one cluster, which pairwise dedup alone
    cannot do.  Per round: one shuffle of 16-byte (id, label) state.
    Oracle: recursive-CTE reachability closure over identical edges."""
    d = _t(spark, sf_dir, "documents")
    labeled = cc_labeled(d)
    sizes = labeled.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return labeled.join(sizes, "component").select(
        "doc_id",
        "component",
        "cluster_size",
        (F.col("doc_id") == F.col("component")).alias("is_canonical"),
    )


# The CC pipeline CTEs through `labeled` (doc_id -> component), shared
# with the purity readout (warehouse33) — one definition of the edge
# construction + reachability closure.
SQL_CC_LABELED_CTES = """w AS (
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
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c USING (doc_id)
)"""

SQL_DEDUP_CC_CLUSTERS = f"""
WITH RECURSIVE {SQL_CC_LABELED_CTES},
sizes AS (
  SELECT component, count(*) AS cluster_size FROM labeled GROUP BY 1
)
SELECT l.doc_id, l.component, s.cluster_size,
       l.doc_id = l.component AS is_canonical
FROM labeled l JOIN sizes s USING (component)
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (concat-then-chunk, GPT-style): per
    source stream, documents are concatenated in doc_id order and cut
    into fixed 512-token sequences; each doc reports its pack span.
    One shuffle (the per-source window sum of token counts); running
    state is one long per doc.  At 100 TB the window key is the
    source shard — no global ordering is ever materialized."""
    d = _t(spark, sf_dir, "documents")
    budget = 512
    n_tok = token_count(F.col("text"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = d.select("doc_id", "source", n_tok.alias("n_tokens"))
    t = t.withColumn("end_offset", F.sum("n_tokens").over(w))
    t = t.withColumn("start_offset", F.col("end_offset") - F.col("n_tokens"))
    first_seq = F.floor(F.col("start_offset") / budget)
    last_seq = F.when(
        F.col("n_tokens") > 0, F.floor((F.col("end_offset") - 1) / budget)
    ).otherwise(first_seq)
    return t.select(
        "doc_id",
        "source",
        "n_tokens",
        "start_offset",
        first_seq.cast("bigint").alias("first_seq"),
        last_seq.cast("bigint").alias("last_seq"),
        (last_seq - first_seq + 1).cast("bigint").alias("n_seqs"),
    )


SQL_PACK_SEQUENCES = r"""
WITH t AS (
  SELECT doc_id, source,
         len(regexp_extract_all(text, '[^ \t\n\x0B\f\r]+')) AS n_tokens,
         sum(len(regexp_extract_all(text, '[^ \t\n\x0B\f\r]+')))
             OVER (PARTITION BY source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS end_offset
  FROM documents
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(end_offset - n_tokens AS BIGINT) AS start_offset,
       CAST(floor((end_offset - n_tokens) / 512) AS BIGINT) AS first_seq,
       CAST(CASE WHEN n_tokens > 0 THEN floor((end_offset - 1) / 512)
                 ELSE floor((end_offset - n_tokens) / 512) END AS BIGINT)
         AS last_seq,
       CAST(CASE WHEN n_tokens > 0 THEN floor((end_offset - 1) / 512)
                 ELSE floor((end_offset - n_tokens) / 512) END
            - floor((end_offset - n_tokens) / 512) + 1 AS BIGINT) AS n_seqs
FROM t
"""


def q_text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking for retrieval/embedding prep: 64-word
    chunks, stride 48 (16-word overlap).  Chunk boundaries are computed
    per row from the word array (sequence -> transform -> explode) —
    map-side only, zero shuffles; the explode fan-out is bounded by
    n_words/stride."""
    d = _t(spark, sf_dir, "documents")
    chunk, stride = 64, 48
    ws = words(F.col("text"))
    n = F.size(ws)
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.when(n <= chunk, F.lit(1)).otherwise(
            F.ceil((n - chunk) / F.lit(stride)) + 1
        )
    )
    t = d.select("doc_id", ws.alias("ws"), n.alias("n_words"), n_chunks.alias("n_chunks"))
    idx = F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx")
    t = t.filter(F.col("n_chunks") > 0).select("doc_id", "ws", "n_words", idx)
    piece = F.slice(F.col("ws"), F.col("chunk_idx") * stride + 1, chunk)
    return t.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size(piece).cast("bigint").alias("chunk_words"),
        F.md5(F.concat_ws(" ", piece)).alias("chunk_md5"),
    )


SQL_TEXT_CHUNK_OVERLAP = """
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws,
         len(regexp_extract_all(lower(text), '[a-z]+')) AS n_words
  FROM documents
),
c AS (
  SELECT doc_id, ws,
         CASE WHEN n_words <= 0 THEN 0
              WHEN n_words <= 64 THEN 1
              ELSE CAST(ceil((n_words - 64) / 48.0) AS INT) + 1 END AS n_chunks
  FROM w
),
e AS (
  SELECT doc_id, ws, unnest(range(0, n_chunks)) AS chunk_idx
  FROM c WHERE n_chunks > 0
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(len(ws[(chunk_idx * 48 + 1):(chunk_idx * 48 + 64)]) AS BIGINT)
         AS chunk_words,
       md5(array_to_string(ws[(chunk_idx * 48 + 1):(chunk_idx * 48 + 64)], ' '))
         AS chunk_md5
FROM e
"""


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling to the smallest language stratum:
    per-lang rates (min_count/count as ppm, integer arithmetic so both
    engines agree exactly) applied via the salted md5 bucket used by
    the other samplers — deterministic across engines and re-runs,
    unlike ``df.sampleBy``.  The rate table is tiny -> broadcast; the
    corpus side never shuffles."""
    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    target = counts.agg(F.min("n_lang").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(target)).select(
        "lang",
        F.floor((F.col("n_min") * 1000000) / F.col("n_lang"))
        .cast("bigint")
        .alias("rate_ppm"),
    )
    bucket = (
        md5_long(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")), n_hex=6)
        % 1000000
    )
    return (
        d.join(F.broadcast(rates), "lang")
        .select(
            "doc_id",
            "lang",
            F.col("rate_ppm"),
            bucket.alias("bucket"),
        )
        .filter(F.col("bucket") < F.col("rate_ppm"))
    )


SQL_SAMPLE_STRATIFIED = """
WITH counts AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
rates AS (
  SELECT lang,
         CAST(floor((SELECT min(n_lang) FROM counts) * 1000000 / n_lang)
              AS BIGINT) AS rate_ppm
  FROM counts
),
b AS (
  SELECT d.doc_id, d.lang, r.rate_ppm,
         CAST(concat('0x', substr(md5('strat:' || CAST(d.doc_id AS VARCHAR)), 1, 6))
              AS BIGINT) % 1000000 AS bucket
  FROM documents d JOIN rates r USING (lang)
)
SELECT doc_id, lang, rate_ppm, bucket FROM b WHERE bucket < rate_ppm
"""


def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring via a corpus unigram LM (the
    KenLM-filter stand-in): pass 1 aggregates word frequencies, pass 2
    joins them back onto the exploded corpus and averages
    -ln p(word) per doc.  Shuffles are on the word key (zipf-bounded
    vocab; AQE handles the hot head) and the doc id.  Docs with no
    words score NULL (filtered by callers, kept here for parity)."""
    d = _t(spark, sf_dir, "documents")
    ex = d.select("doc_id", F.explode(words(F.col("text"))).alias("word"))
    vocab = ex.groupBy("word").agg(F.count(F.lit(1)).alias("wc"))
    total = vocab.agg(F.sum("wc").alias("tot"))
    scored = (
        ex.join(vocab, "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.round(F.avg(-F.log(F.col("wc") / F.col("tot"))), 4).alias(
                "avg_neg_logprob"
            ),
        )
    )
    return d.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_words"), F.lit(0)).alias("n_words"),
        "avg_neg_logprob",
    )


SQL_TEXT_UNIGRAM_LOGPROB = """
WITH e AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents
),
vocab AS (SELECT word, count(*) AS wc FROM e GROUP BY 1),
tot AS (SELECT sum(wc) AS tot FROM vocab),
scored AS (
  SELECT e.doc_id, count(*) AS n_words,
         round(avg(-ln(v.wc / t.tot)), 4) AS avg_neg_logprob
  FROM e JOIN vocab v USING (word) CROSS JOIN tot t
  GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(s.n_words, 0) AS n_words,
       s.avg_neg_logprob
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


def q_dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (un-blocked) near-dup pairs at word-3-gram Jaccard >= 0.5
    via prefix filtering — lossless, and structurally immune to hot
    boilerplate shingles (high-df tokens never enter a prefix), unlike
    blocked joins that need a df cap."""
    from ..operators.dedup import prefix_jaccard_pairs

    return prefix_jaccard_pairs(
        _t(spark, sf_dir, "documents"), shingle_k=3, threshold=0.5
    )


SQL_DEDUP_PREFIX_JACCARD = """
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
e AS (SELECT doc_id, unnest(sh) AS tok FROM s),
dfreq AS (SELECT tok, count(*) AS df FROM e GROUP BY 1),
perdoc AS (
  SELECT e.doc_id,
         list(e.tok ORDER BY d.df, e.tok) AS toks,
         count(*) AS n_tok
  FROM e JOIN dfreq d USING (tok) GROUP BY e.doc_id
),
pref AS (
  SELECT doc_id, n_tok,
         unnest(toks[1:(CAST(n_tok AS INT) - CAST(ceil(0.5 * n_tok) AS INT) + 1)])
           AS tok
  FROM perdoc
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.n_tok AS n_a, b.n_tok AS n_b
  FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
),
common AS (
  SELECT a.doc_id AS ca, b.doc_id AS cb, count(*) AS n_common
  FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b,
       round(m.n_common * 1.0 / (c.n_a + c.n_b - m.n_common), 4) AS jaccard
FROM cand c JOIN common m ON m.ca = c.id_a AND m.cb = c.id_b
WHERE round(m.n_common * 1.0 / (c.n_a + c.n_b - m.n_common), 4) >= 0.5
"""


def q_sample_interleave_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-interleaved training order: rank docs within each source
    (one windowed shuffle on the source key), then deal them round-
    robin into 8 shards with a position that alternates sources —
    the deterministic 'shuffle' a training run wants (no RNG, stable
    under re-runs, no global sort).  position = rank-within-source;
    readers consume (shard, position, source) lexicographically and
    see sources interleaved."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    r = d.select(
        "doc_id", "source", (F.row_number().over(w) - 1).alias("pos_in_source")
    )
    return r.select(
        "doc_id",
        "source",
        (F.col("pos_in_source") % 8).cast("bigint").alias("shard"),
        (F.col("pos_in_source") / 8).cast("bigint").alias("position"),
    )


SQL_SAMPLE_INTERLEAVE_SHARDS = """
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1
           AS pos_in_source
  FROM documents
)
SELECT doc_id, source,
       CAST(pos_in_source % 8 AS BIGINT) AS shard,
       CAST(floor(pos_in_source / 8) AS BIGINT) AS position
FROM r
"""


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability signals: sentence count (terminator runs), words
    per sentence, mean word length, and a Flesch-style score from
    those two rates.  Pure Catalyst expressions, map-side only —
    the oracle mirrors each regex and the rounded arithmetic."""
    d = _t(spark, sf_dir, "documents")
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)), F.lit(1)
    )
    ws = words(F.col("text"))
    n_words = F.size(ws)
    total_chars = F.aggregate(
        F.transform(ws, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
    )
    wps = F.when(n_words > 0, n_words / n_sent)
    mwl = F.when(n_words > 0, total_chars / n_words)
    return d.select(
        "doc_id",
        n_sent.cast("bigint").alias("n_sentences"),
        n_words.cast("bigint").alias("n_words"),
        F.round(wps, 4).alias("words_per_sentence"),
        F.round(mwl, 4).alias("mean_word_len"),
        F.round(206.835 - 1.015 * wps - 84.6 * (mwl / 3), 4).alias("flesch_ish"),
    )


SQL_TEXT_READABILITY = r"""
WITH t AS (
  SELECT doc_id,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sent,
         regexp_extract_all(lower(text), '[a-z]+') AS ws
  FROM documents
),
m AS (
  SELECT doc_id, n_sent, len(ws) AS n_words,
         list_sum([length(w) FOR w IN ws]) AS total_chars
  FROM t
)
SELECT doc_id,
       CAST(n_sent AS BIGINT) AS n_sentences,
       CAST(n_words AS BIGINT) AS n_words,
       round(CASE WHEN n_words > 0 THEN n_words * 1.0 / n_sent END, 4)
         AS words_per_sentence,
       round(CASE WHEN n_words > 0 THEN total_chars * 1.0 / n_words END, 4)
         AS mean_word_len,
       round(CASE WHEN n_words > 0 THEN
               206.835 - 1.015 * (n_words * 1.0 / n_sent)
                       - 84.6 * ((total_chars * 1.0 / n_words) / 3)
             END, 4) AS flesch_ish
FROM m
"""


def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. '21 §A1.1) as one
    map-side expression block: word-count bounds, mean word length
    bounds, symbol-to-word ratio, alphabetic-word fraction, stop-word
    floor — emitted as per-rule booleans plus the conjunction, so
    downstream can both filter and audit WHY a doc failed."""
    d = _t(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(r"[^ \t\n\x0B\f\r]+"), 0)
    n_tok = F.size(toks)
    letters = words(F.col("text"))
    n_letter_words = F.size(letters)
    total_len = F.aggregate(
        F.transform(letters, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
    )
    mwl = F.when(n_letter_words > 0, total_len / n_letter_words)
    n_sym = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"#|\.\.\."), 0))
    sym_ratio = F.when(n_tok > 0, n_sym / n_tok)
    alpha_frac = F.when(n_tok > 0, n_letter_words / n_tok)
    n_stop = F.size(
        F.regexp_extract_all(
            F.lower(F.col("text")),
            F.lit(r"\b(the|be|to|of|and|that|have|with)\b"),
            0,
        )
    )
    r_wc = (n_tok >= 5) & (n_tok <= 100000)
    r_mwl = F.coalesce((mwl >= 2) & (mwl <= 12), F.lit(False))
    r_sym = F.coalesce(sym_ratio <= 0.1, F.lit(False))
    r_alpha = F.coalesce(alpha_frac >= 0.6, F.lit(False))
    r_stop = n_stop >= 1
    return d.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        F.round(mwl, 4).alias("mean_word_len"),
        F.round(sym_ratio, 4).alias("symbol_ratio"),
        F.round(alpha_frac, 4).alias("alpha_frac"),
        n_stop.cast("bigint").alias("n_stopwords"),
        r_wc.alias("pass_word_count"),
        r_mwl.alias("pass_mean_word_len"),
        r_sym.alias("pass_symbol_ratio"),
        r_alpha.alias("pass_alpha_frac"),
        r_stop.alias("pass_stopwords"),
        (r_wc & r_mwl & r_sym & r_alpha & r_stop).alias("pass_all"),
    )


SQL_TEXT_GOPHER_RULES = r"""
WITH t AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '[^ \t\n\x0B\f\r]+')) AS n_tok,
         regexp_extract_all(lower(text), '[a-z]+') AS letters,
         len(regexp_extract_all(text, '#|\.\.\.')) AS n_sym,
         len(regexp_extract_all(lower(text),
             '\b(the|be|to|of|and|that|have|with)\b')) AS n_stop
  FROM documents
),
m AS (
  SELECT doc_id, n_tok, n_sym, n_stop,
         len(letters) AS n_lw,
         list_sum([length(w) FOR w IN letters]) AS total_len
  FROM t
),
x AS (
  SELECT doc_id, n_tok, n_stop,
         CASE WHEN n_lw > 0 THEN total_len * 1.0 / n_lw END AS mwl,
         CASE WHEN n_tok > 0 THEN n_sym * 1.0 / n_tok END AS sym_ratio,
         CASE WHEN n_tok > 0 THEN n_lw * 1.0 / n_tok END AS alpha_frac
  FROM m
)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       round(mwl, 4) AS mean_word_len,
       round(sym_ratio, 4) AS symbol_ratio,
       round(alpha_frac, 4) AS alpha_frac,
       CAST(n_stop AS BIGINT) AS n_stopwords,
       n_tok >= 5 AND n_tok <= 100000 AS pass_word_count,
       COALESCE(mwl >= 2 AND mwl <= 12, FALSE) AS pass_mean_word_len,
       COALESCE(sym_ratio <= 0.1, FALSE) AS pass_symbol_ratio,
       COALESCE(alpha_frac >= 0.6, FALSE) AS pass_alpha_frac,
       n_stop >= 1 AS pass_stopwords,
       (n_tok >= 5 AND n_tok <= 100000)
         AND COALESCE(mwl >= 2 AND mwl <= 12, FALSE)
         AND COALESCE(sym_ratio <= 0.1, FALSE)
         AND COALESCE(alpha_frac >= 0.6, FALSE)
         AND n_stop >= 1 AS pass_all
FROM x
"""


def q_text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate stripping: HTML planted deterministically around the
    text (the corpus is plain text; wrapping it gives the stripper real
    markup, same plant replayed by the oracle), then tags removed,
    entities decoded, whitespace collapsed — sequential Catalyst
    regexp passes, map-side only."""
    d = _t(spark, sf_dir, "documents")
    planted = F.concat(
        F.lit('<html><body class="doc"><h1>Doc '),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><br/>&amp; more &lt;here&gt;&nbsp;</body></html>"),
    )
    no_tags = F.regexp_replace(planted, r"<[^>]+>", " ")
    decoded = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(no_tags, "&amp;", "&"), "&lt;", "<"
            ),
            "&gt;",
            ">",
        ),
        "&nbsp;",
        " ",
    )
    clean = F.trim(F.regexp_replace(decoded, r"\s+", " "))
    return d.select(
        "doc_id",
        F.length(planted).cast("bigint").alias("n_raw"),
        F.length(clean).cast("bigint").alias("n_clean"),
        F.md5(clean).alias("clean_md5"),
    )


SQL_TEXT_HTML_STRIP = r"""
WITH planted AS (
  SELECT doc_id,
         '<html><body class="doc"><h1>Doc ' || CAST(doc_id AS VARCHAR)
         || '</h1><p>' || text
         || '</p><br/>&amp; more &lt;here&gt;&nbsp;</body></html>' AS raw
  FROM documents
),
s AS (
  SELECT doc_id, raw,
         trim(regexp_replace(
           replace(replace(replace(replace(
             regexp_replace(raw, '<[^>]+>', ' ', 'g'),
             '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&nbsp;', ' '),
           '\s+', ' ', 'g')) AS clean
  FROM planted
)
SELECT doc_id,
       CAST(length(raw) AS BIGINT) AS n_raw,
       CAST(length(clean) AS BIGINT) AS n_clean,
       md5(clean) AS clean_md5
FROM s
"""


def q_agg_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-balance diagnostics per source: Shannon entropy of the
    language distribution (nats), effective number of languages
    (exp(H)), and dominant-language share.  One count aggregate plus
    arithmetic over the tiny (source, lang) frame — the balance check
    a weighted-mix pipeline runs before and after resampling."""
    d = _t(spark, sf_dir, "documents")
    sl = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    tot = sl.groupBy("source").agg(F.sum("c").alias("n"))
    p = sl.join(tot, "source").withColumn("p", F.col("c") / F.col("n"))
    return (
        p.groupBy("source")
        .agg(
            F.first("n").alias("n_docs"),
            F.round((-F.sum(F.col("p") * F.log("p"))), 6).alias("entropy_nats"),
            F.round(F.exp(-F.sum(F.col("p") * F.log("p"))), 4).alias(
                "effective_langs"
            ),
            F.round(F.max("p"), 4).alias("dominant_share"),
        )
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "entropy_nats",
            "effective_langs",
            "dominant_share",
        )
    )


SQL_AGG_SOURCE_ENTROPY = """
WITH sl AS (SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
tot AS (SELECT source, sum(c) AS n FROM sl GROUP BY 1),
p AS (SELECT sl.source, sl.c * 1.0 / t.n AS p, t.n
      FROM sl JOIN tot t ON t.source = sl.source)
SELECT source,
       CAST(max(n) AS BIGINT) AS n_docs,
       round(-sum(p * ln(p)), 6) AS entropy_nats,
       round(exp(-sum(p * ln(p))), 4) AS effective_langs,
       round(max(p), 4) AS dominant_share
FROM p GROUP BY source
"""


def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novelty: the fraction of a doc's distinct word-5-grams
    that appear in no other document — the data-value signal that
    separates boilerplate from original content.  One df count over
    shingles (8-byte keys at scale), joined back per doc; novelty 1.0
    means fully original, 0.0 fully boilerplate."""
    d = _t(spark, sf_dir, "documents")
    from ..operators.dedup import word_shingles

    ex = d.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 5)).alias("sh")
    )
    dfreq = ex.groupBy("sh").agg(F.count_distinct("doc_id").alias("df"))
    per_doc = (
        ex.join(dfreq, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("bigint")).alias("n_unique"),
        )
    )
    out = d.select("doc_id").join(per_doc, "doc_id", "left")
    return out.select(
        "doc_id",
        F.coalesce(F.col("n_shingles"), F.lit(0)).alias("n_shingles"),
        F.coalesce(F.col("n_unique"), F.lit(0)).alias("n_unique"),
        F.round(
            F.when(
                F.col("n_shingles") > 0, F.col("n_unique") / F.col("n_shingles")
            ),
            4,
        ).alias("novelty"),
    )


SQL_TEXT_NGRAM_NOVELTY = """
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words
  FROM documents
),
s AS (
  SELECT doc_id,
         CASE WHEN len(words) >= 5
              THEN list_distinct([array_to_string(words[i:i+4], ' ')
                                  FOR i IN range(1, len(words) - 3)])
              WHEN len(words) > 0 THEN [array_to_string(words, ' ')]
              ELSE [] END AS sh
  FROM w
),
e AS (SELECT doc_id, unnest(sh) AS sh FROM s),
dfreq AS (SELECT sh, count(DISTINCT doc_id) AS df FROM e GROUP BY 1),
per_doc AS (
  SELECT e.doc_id, count(*) AS n_shingles,
         sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS n_unique
  FROM e JOIN dfreq d USING (sh) GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(COALESCE(p.n_unique, 0) AS BIGINT) AS n_unique,
       round(CASE WHEN p.n_shingles > 0
                  THEN p.n_unique * 1.0 / p.n_shingles END, 4) AS novelty
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


def q_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-graph diagnostics: degree distribution of the near-dup
    pair graph (blocked n-gram Jaccard >= 0.5 edges) — how many docs
    have 0, 1, 2.. near-duplicates.  The shape a dedup run reports to
    decide whether clustering is needed (max degree > 1 means pairwise
    removal under-deletes).  One extra aggregate over the pairs
    frame."""
    from ..operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        group_cols=["lang", "source"],
        shingle_k=3,
        threshold=0.5,
        max_shingle_df=50,
    )
    ends = pairs.select(F.col("id_a").alias("doc_id")).union(
        pairs.select(F.col("id_b").alias("doc_id"))
    )
    deg = ends.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))
    d = _t(spark, sf_dir, "documents")
    all_deg = (
        d.select("doc_id")
        .join(deg, "doc_id", "left")
        .select(F.coalesce(F.col("degree"), F.lit(0)).alias("degree"))
    )
    return all_deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))


SQL_GRAPH_DEGREE_STATS = f"""
WITH {SQL_BLOCKED_SHINGLES_CTES},
{SQL_SHINGLE_COMMON_CTE},
pairs AS (
  SELECT id_a, id_b
  FROM common JOIN counts ca ON ca.doc_id = id_a
              JOIN counts cb ON cb.doc_id = id_b
  WHERE round(n_common * 1.0 / (ca.n_sh + cb.n_sh - n_common), 4) >= 0.5
),
ends AS (
  SELECT id_a AS doc_id FROM pairs UNION ALL SELECT id_b FROM pairs
),
deg AS (SELECT doc_id, count(*) AS degree FROM ends GROUP BY 1),
all_deg AS (
  SELECT COALESCE(g.degree, 0) AS degree
  FROM documents d LEFT JOIN deg g USING (doc_id)
)
SELECT degree, count(*) AS n_docs FROM all_deg GROUP BY 1
"""


def q_pack_bins_bfd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-fit-decreasing packing into 512-token bins per source —
    the no-document-splitting alternative to pack_sequences.  BFD's
    sequential placement is the documented applyInPandas escape hatch
    (state = open-bin fills, bounded per group); not SQL-expressible
    -> rows-only driver check, exact pure-Python BFD ground truth in
    tests/test_packing.py."""
    from ..operators.relational import pack_bins_bfd

    d = _t(spark, sf_dir, "documents")
    t = d.select("source", "doc_id", token_count(F.col("text")).alias("n_tokens"))
    return pack_bins_bfd(t, budget=512)


def q_sample_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    doc draws 4 pseudo-random partners via salted md5 of (doc_id,
    draw), fetched by an equi-join on the partner id — never a cross
    join, and reproducible across runs/engines/partitionings.  Self-
    draws are dropped (rejection, not resample, so both engines agree
    without iteration).  Assumes dense ids (the testdata contract);
    sparse corpora first materialize a dense rank once."""
    d = _t(spark, sf_dir, "documents")
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    drawn = (
        d.select("doc_id")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("draw"),
            "n_docs",
        )
        .withColumn(
            "partner_id",
            md5_long(
                F.concat_ws(":", F.lit("neg"), F.col("doc_id"), F.col("draw")), n_hex=12
            )
            % F.col("n_docs"),
        )
        .filter(F.col("partner_id") != F.col("doc_id"))
    )
    partners = d.select(
        F.col("doc_id").alias("partner_id"),
        F.col("lang").alias("partner_lang"),
        F.col("source").alias("partner_source"),
    )
    return drawn.join(partners, "partner_id").select(
        "doc_id", "draw", "partner_id", "partner_lang", "partner_source"
    )


SQL_SAMPLE_NEGATIVES = """
WITH n AS (SELECT count(*) AS n_docs FROM documents),
drawn AS (
  SELECT d.doc_id, i.draw,
         CAST(concat('0x', substr(md5('neg:' || CAST(d.doc_id AS VARCHAR)
                                       || ':' || CAST(i.draw AS VARCHAR)), 1, 12))
              AS BIGINT) % (SELECT n_docs FROM n) AS partner_id
  FROM documents d
  CROSS JOIN (SELECT unnest(range(0, 4)) AS draw) i
)
SELECT dr.doc_id, dr.draw, dr.partner_id,
       p.lang AS partner_lang, p.source AS partner_source
FROM drawn dr JOIN documents p ON p.doc_id = dr.partner_id
WHERE dr.partner_id != dr.doc_id
"""


def q_agg_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator agreement (Cohen's kappa) between the embedding
    labels and a derived second rater, computed distributively: one
    confusion-matrix aggregate, marginals re-aggregated from it (no
    second scan), kappa = (po - pe) / (1 - pe).  The whole statistic
    is three tiny shuffles over class-count rows."""
    e = _t(spark, sf_dir, "embeddings")
    rated = e.select(
        F.col("label").alias("a"),
        F.when(F.col("vec_id") % 2 == 0, F.col("label"))
        .otherwise((F.col("label") + 1) % 10)
        .alias("b"),
    )
    cm = rated.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c"))
    tot = cm.agg(F.sum("c").alias("n"))
    ma = cm.groupBy("a").agg(F.sum("c").alias("ca"))
    mb = cm.groupBy("b").agg(F.sum("c").alias("cb"))
    # conditional sum over ALL cm rows (not filter-then-sum): a
    # confusion matrix with an empty diagonal must give po = 0 like
    # the twin's CASE ... ELSE 0, not a NULL empty-frame sum
    # (review r8 round 4)
    po = (
        cm.agg(
            F.sum(
                F.when(F.col("a") == F.col("b"), F.col("c")).otherwise(F.lit(0))
            ).alias("agree")
        )
        .crossJoin(F.broadcast(tot))
        .select((F.col("agree") / F.col("n")).alias("po"))
    )
    # marginal products through decimal (operand cast first) and the
    # n² denominator in double: ca*cb and n*n pass 2^63 near 1e11
    # rows under ANSI (review r8 convention)
    pe = (
        ma.join(mb, ma.a == mb.b)
        .agg(
            F.sum(F.col("ca").cast("decimal(38,0)") * F.col("cb")).alias("s")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            (
                F.col("s").cast("double")
                / (F.col("n").cast("double") * F.col("n").cast("double"))
            ).alias("pe")
        )
    )
    return po.crossJoin(pe).select(
        F.round("po", 6).alias("po"),
        F.round("pe", 6).alias("pe"),
        # pe == 1 exactly (both raters constant) leaves kappa
        # undefined: NULL on both engines, never an ANSI /0.0 throw
        F.when(
            F.col("pe") < 1,
            F.round((F.col("po") - F.col("pe")) / (1 - F.col("pe")), 6),
        ).alias("kappa"),
    )


SQL_AGG_COHENS_KAPPA = """
WITH rated AS (
  SELECT label AS a,
         CASE WHEN vec_id % 2 = 0 THEN label ELSE (label + 1) % 10 END AS b
  FROM embeddings
),
cm AS (SELECT a, b, count(*) AS c FROM rated GROUP BY 1, 2),
tot AS (SELECT sum(c) AS n FROM cm),
ma AS (SELECT a, sum(c) AS ca FROM cm GROUP BY 1),
mb AS (SELECT b, sum(c) AS cb FROM cm GROUP BY 1),
po AS (SELECT sum(CASE WHEN a = b THEN c ELSE 0 END) * 1.0 / (SELECT n FROM tot)
         AS po FROM cm),
-- HUGEINT marginal products and a double n² denominator: BIGINT
-- ca*cb and n*n overflow near 1e11 rows (mirrors the Spark decimal
-- operand cast)
pe AS (SELECT CAST(sum(CAST(ca AS HUGEINT) * cb) AS DOUBLE)
         / (CAST((SELECT n FROM tot) AS DOUBLE)
            * CAST((SELECT n FROM tot) AS DOUBLE))
         AS pe FROM ma JOIN mb ON ma.a = mb.b)
SELECT round(po.po, 6) AS po, round(pe.pe, 6) AS pe,
       CASE WHEN pe.pe < 1
            THEN round((po.po - pe.pe) / (1 - pe.pe), 6)
       END AS kappa
FROM po, pe
"""




# --------------------------------------------------------------------
# Data selection under a token budget
# --------------------------------------------------------------------

_BUDGET_TOKENS = 5_000


def q_select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-first corpus selection under a token budget: keep
    the highest-quality documents (quality desc, doc_id asc) until the
    next document would push the running token total past
    ``_BUDGET_TOKENS`` — the selection step behind "train on the best
    N tokens" pipelines.

    Scale shape: the obvious form is one GLOBAL running-sum window over
    the quality ordering, which collapses to a single partition at any
    size.  Instead, documents aggregate into quality BANDS (the
    4-decimal rounded score — at most 10^4+1 distinct values no matter
    the corpus), the tiny band frame takes the only unpartitioned
    window, whole bands under the budget survive in bulk, and just the
    one boundary band runs a per-band (PARTITIONed, distributed)
    running sum to find its cut point.  Work per doc is one aggregate
    + one broadcast join probe regardless of corpus size.

    Determinism: quality is rounded before banding on both engines;
    within a band the cut order is doc_id asc; a doc that does not fit
    is skipped and ends the prefix (greedy-prefix rule, documented).
    Returns (doc_id, quality_r, n_tokens, cum_tokens) for the kept set.
    """
    d = _t(spark, sf_dir, "documents")
    m = d.select(
        "doc_id",
        quality_score(F.col("text")).alias("quality_r"),
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    )
    bands = m.groupBy("quality_r").agg(F.sum("n_tokens").alias("band_tokens"))
    # Band frame cardinality is bounded by the quality grid (<= 10^4+1
    # rows), so the unpartitioned window is safe at any corpus size.
    w_band = Window.orderBy(F.col("quality_r").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    bc = bands.select(
        "quality_r",
        (F.sum("band_tokens").over(w_band) - F.col("band_tokens")).alias(
            "cum_before"
        ),
    )
    w_doc = Window.partitionBy("quality_r").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dc = m.join(F.broadcast(bc), "quality_r").withColumn(
        "band_cum", F.sum("n_tokens").over(w_doc)
    )
    return (
        dc.filter(F.col("cum_before") + F.col("band_cum") <= _BUDGET_TOKENS)
        .select(
            "doc_id",
            "quality_r",
            "n_tokens",
            (F.col("cum_before") + F.col("band_cum"))
            .cast("bigint")
            .alias("cum_tokens"),
        )
    )


SQL_SELECT_TOKEN_BUDGET = f"""
WITH {sql_quality_ctes()},
toks AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[^ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tokens
  FROM documents
),
mt AS (
  SELECT q.doc_id, toks.n_tokens, q.quality AS quality_r
  FROM q JOIN toks USING (doc_id)
),
bands AS (
  SELECT quality_r, sum(n_tokens) AS band_tokens FROM mt GROUP BY 1
),
bc AS (
  SELECT quality_r,
         sum(band_tokens) OVER (ORDER BY quality_r DESC
                                ROWS UNBOUNDED PRECEDING) - band_tokens
             AS cum_before
  FROM bands
),
dc AS (
  SELECT mt.doc_id, mt.quality_r, mt.n_tokens, bc.cum_before,
         sum(mt.n_tokens) OVER (PARTITION BY mt.quality_r ORDER BY mt.doc_id
                               ROWS UNBOUNDED PRECEDING) AS band_cum
  FROM mt JOIN bc USING (quality_r)
)
SELECT doc_id, quality_r, n_tokens,
       CAST(cum_before + band_cum AS BIGINT) AS cum_tokens
FROM dc
WHERE cum_before + band_cum <= {_BUDGET_TOKENS}
"""




# --------------------------------------------------------------------
# Source blocklist filtering + batch length bucketing
# --------------------------------------------------------------------

#: Glob-style source blocklist (first match wins, order matters) —
#: the C4/RefinedWeb-style domain filter stage.  '*' is the only
#: wildcard; patterns anchor at both ends.
_SOURCE_BLOCKLIST: tuple[str, ...] = ("src1*", "src7")


def _glob_to_regex(glob: str) -> str:
    import re as _re

    return "^" + "".join(
        ".*" if ch == "*" else _re.escape(ch) for ch in glob
    ) + "$"


def q_filter_source_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auditable source blocklist: every document tagged with the FIRST
    blocklist glob its source matches (NULL = kept) — the domain-level
    filter stage of web-corpus pipelines, kept auditable per-doc
    (which rule removed what) rather than silently dropping rows.

    Globs compile to anchored literal regexes at plan time, so the
    whole filter is one codegen'd CASE chain — no Python, no join.
    """
    d = _t(spark, sf_dir, "documents")
    rule: Column = F.lit(None).cast("string")
    for g in reversed(_SOURCE_BLOCKLIST):
        rule = F.when(
            F.col("source").rlike(_glob_to_regex(g)), F.lit(g)
        ).otherwise(rule)
    return d.select(
        "doc_id",
        "source",
        rule.alias("blocked_by"),
        rule.isNull().alias("is_kept"),
    )


def _blocklist_sql_case() -> str:
    whens = " ".join(
        f"WHEN regexp_matches(source, '{_glob_to_regex(g)}') THEN '{g}'"
        for g in _SOURCE_BLOCKLIST
    )
    return f"CASE {whens} ELSE NULL END"


SQL_FILTER_SOURCE_BLOCKLIST = f"""
SELECT doc_id, source,
       {_blocklist_sql_case()} AS blocked_by,
       ({_blocklist_sql_case()}) IS NULL AS is_kept
FROM documents
"""


_BUCKET_STEP = 64
_BUCKET_CAP = 512


def q_batch_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching stats: documents grouped into
    fixed-step token-length buckets (step 64, capped at 512 — longer
    docs truncate to the cap), reporting per-bucket document count,
    true token mass, and the padding waste a batch padded to the
    bucket length would carry.  The planning stage behind
    length-bucketed training/inference batching.

    One map-side bucket expression + one aggregate: linear scan, one
    shuffle of <= cap/step rows.
    """
    d = _t(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text")).cast("bigint")
    bucket = F.least(
        F.greatest(
            (F.ceil(n_tok / _BUCKET_STEP) * _BUCKET_STEP).cast("bigint"),
            F.lit(_BUCKET_STEP).cast("bigint"),
        ),
        F.lit(_BUCKET_CAP).cast("bigint"),
    )
    capped = F.least(n_tok, F.lit(_BUCKET_CAP).cast("bigint"))
    return (
        d.select(bucket.alias("bucket_len"), capped.alias("n_tokens"))
        .groupBy("bucket_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.round(
                1
                - F.sum("n_tokens")
                / (F.col("bucket_len") * F.count(F.lit(1))).cast("double"),
                4,
            ).alias("padding_waste"),
        )
    )


SQL_BATCH_LENGTH_BUCKETS = f"""
WITH t AS (
  SELECT least(CAST(len(regexp_extract_all(text, '[^ \\t\\n\\x0B\\f\\r]+')) AS BIGINT),
               {_BUCKET_CAP}) AS n_tokens,
         least(greatest(CAST(ceil(CAST(len(regexp_extract_all(text, '[^ \\t\\n\\x0B\\f\\r]+'))
                                       AS BIGINT) / {_BUCKET_STEP}.0)
                             * {_BUCKET_STEP} AS BIGINT),
                        {_BUCKET_STEP}), {_BUCKET_CAP}) AS bucket_len
  FROM documents
)
SELECT bucket_len, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       round(1 - sum(n_tokens) / CAST(bucket_len * count(*) AS DOUBLE), 4)
           AS padding_waste
FROM t
GROUP BY bucket_len
"""




_CLUSTER_SAMPLE_PER_CELL = 20


def q_sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware sampling: an equal quota of vectors from every
    k-means cell (8 cells, 2 Lloyd rounds — the dedup_semantic
    clustering), picked in md5-of-id order — deterministic,
    engine-portable pseudo-random, and independent of ingestion order.
    The selection stage behind cluster-balanced training mixes, where
    uniform sampling would over-represent dense regions of embedding
    space.

    Plan shape: clustering is the zero-shuffle broadcast-argmax
    assignment; the quota cut is one per-cell rank window (PARTITIONed
    — never a global window)."""
    from ..operators.similarity import kmeans_refine

    e = _t(spark, sf_dir, "embeddings")
    _, assigned = kmeans_refine(e, num_cells=8, iters=2)
    w = Window.partitionBy("cell").orderBy(
        F.md5(F.col("id").cast("string")), F.col("id")
    )
    return (
        assigned.withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") <= _CLUSTER_SAMPLE_PER_CELL)
        .select(
            F.col("id").cast("bigint").alias("id"),
            F.col("cell").cast("int").alias("cell"),
            F.col("pick").cast("int").alias("pick"),
        )
    )


SQL_SAMPLE_CLUSTER_BALANCED = f"""
WITH {_KMEANS_CTES_8_2}
SELECT CAST(id AS BIGINT) AS id, CAST(cell AS INT) AS cell,
       CAST(row_number() OVER (
           PARTITION BY cell
           ORDER BY md5(CAST(id AS VARCHAR)), id) AS INT) AS pick
FROM {_KMEANS_FINAL_8_2}
QUALIFY pick <= {_CLUSTER_SAMPLE_PER_CELL}
"""




def q_profile_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality calibration profile: exact p10/median/p90 of
    the composite quality score plus the share of docs clearing the
    prep pipeline's 0.35 gate — the diagnostic a curation team reads
    before tuning per-source thresholds.

    Percentiles are RANK-SELECTED (lower quantile_disc: the element at
    row floor((n-1)*p) + 1 of the per-source ordering), not
    interpolated — interpolated quantile_cont agreed with Spark's
    percentile() at sf0.01 but diverged by 1 ulp at sf0.1 (the two
    engines order the a + d*(b-a) arithmetic differently, and with 20
    sources x 500 docs one group lands on a round(4) tie).  Rank
    selection is pure integer indexing over identically-rounded row
    values, scale-independent.  The window partitions per source."""
    d = _t(spark, sf_dir, "documents")
    q = quality_score(F.col("text"))
    w = Window.partitionBy("source").orderBy("q")
    ranked = (
        d.select("source", q.alias("q"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("source")))
    )

    def pick(p: float):
        target = F.floor((F.col("n") - 1) * F.lit(p)).cast("long") + 1
        return F.max(F.when(F.col("rn") == target, F.col("q")))

    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        pick(0.1).alias("p10"),
        pick(0.5).alias("p50"),
        pick(0.9).alias("p90"),
        F.round(
            F.sum(F.when(F.col("q") >= 0.35, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("pass_rate"),
    )


SQL_PROFILE_QUALITY_BY_SOURCE = f"""
WITH {sql_quality_ctes(extra_cols="source")},
ranked AS (
  SELECT source, quality AS q,
         row_number() OVER (PARTITION BY source ORDER BY quality) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM q
)
SELECT source, count(*) AS n_docs,
       max(CASE WHEN rn = CAST(floor((n - 1) * 0.1) AS BIGINT) + 1
                THEN q END) AS p10,
       max(CASE WHEN rn = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1
                THEN q END) AS p50,
       max(CASE WHEN rn = CAST(floor((n - 1) * 0.9) AS BIGINT) + 1
                THEN q END) AS p90,
       round(sum(CASE WHEN q >= 0.35 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS pass_rate
FROM ranked GROUP BY source
"""




def q_dedup_pair_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explainable near-dup: for every blocked-Jaccard pair (same
    parameters as ``dedup_ngram_jaccard``), report the evidence a
    reviewer needs — shared-shingle count and the first three shared
    shingles alphabetically.  Dedup that deletes at 100 TB must be
    auditable; this is the query a curation UI renders next to each
    proposed merge.

    Same plan shape as the pair generation (string shingles retained
    here because they ARE the output); the explanation adds one
    ``collect_set`` bounded at 3 surviving examples per pair."""
    from ..operators.dedup import word_shingles

    d = _t(spark, sf_dir, "documents")
    # r14: tokenize once at session width — ``e`` feeds the df count
    # and the df-cap join, and ``kept`` feeds three consumers (counts
    # + both pair sides); un-persisted, the shingle explode
    # re-evaluated ~5x (the dedup_containment profile pattern).  The
    # kept cache is pinned hash(lang, source, shingle) so the pair
    # self-join reads co-partitioned cache with zero exchanges.
    e = (
        d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select(
            "lang",
            "source",
            F.col("doc_id").alias("id"),
            F.explode(word_shingles(F.col("text"), 3)).alias("shingle"),
        )
        .persist()
    )
    dfreq = e.groupBy("lang", "source", "shingle").agg(
        F.count(F.lit(1)).alias("df")
    )
    kept = (
        e.join(
            dfreq.filter(F.col("df") <= 50), ["lang", "source", "shingle"]
        ).repartition(
            spark.sparkContext.defaultParallelism,
            "lang",
            "source",
            "shingle",
        )
        .persist()
    )
    counts = kept.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = kept.select("lang", "source", "shingle", F.col("id").alias("id_a"))
    b = kept.select("lang", "source", "shingle", F.col("id").alias("id_b"))
    pairs = (
        a.join(b, ["lang", "source", "shingle"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.slice(F.array_sort(F.collect_set("shingle")), 1, 3).alias("ex"),
        )
    )
    return (
        pairs.join(
            counts.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")),
            "id_a",
        )
        .join(
            counts.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select(
            "id_a",
            "id_b",
            "jaccard",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.concat_ws(" | ", "ex").alias("examples"),
        )
    )


SQL_DEDUP_PAIR_EXPLAIN = f"""
WITH {SQL_BLOCKED_SHINGLES_CTES},
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared,
         array_to_string(list_sort(list_distinct(list(a.shingle)))[1:3], ' | ')
             AS examples
  FROM kept a JOIN kept b
    ON a.lang = b.lang AND a.source = b.source
   AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_shared * 1.0 / (ca.n_sh + cb.n_sh - n_shared), 4) AS jaccard,
       CAST(n_shared AS BIGINT) AS n_shared, examples
FROM pairs
JOIN counts ca ON ca.doc_id = id_a
JOIN counts cb ON cb.doc_id = id_b
WHERE round(n_shared * 1.0 / (ca.n_sh + cb.n_sh - n_shared), 4) >= 0.5
"""




def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup diagnostics per source: document count, distinct
    normalized fingerprints, and the exact-dup rate — the first chart
    on any corpus-health dashboard (a source whose dup rate spikes is
    usually a crawler or pipeline fault).  One hash aggregate over
    (source, fp) then one over source; both partial-aggregate map-side.
    """
    d = _t(spark, sf_dir, "documents")
    per_fp = d.select("source", fingerprint(F.col("text")).alias("fp"))
    return (
        per_fp.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_distinct"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct",
            F.round(
                1 - F.col("n_distinct") / F.col("n_docs").cast("double"), 4
            ).alias("dup_rate"),
        )
    )


SQL_DEDUP_RATE_BY_SOURCE = """
SELECT source, count(*) AS n_docs,
       count(DISTINCT substring(md5(trim(regexp_replace(lower(text),
                                                        '\\s+', ' ', 'g'))),
                                1, 16)) AS n_distinct,
       round(1 - count(DISTINCT substring(md5(trim(regexp_replace(lower(text),
                                                                  '\\s+', ' ',
                                                                  'g'))),
                                          1, 16))
                 / CAST(count(*) AS DOUBLE), 4) AS dup_rate
FROM documents
GROUP BY source
"""


QUERIES: dict[str, QuerySpec] = {
    "dedup_exact": QuerySpec(q_dedup_exact, SQL_DEDUP_EXACT),
    "sample_negatives": QuerySpec(q_sample_negatives, SQL_SAMPLE_NEGATIVES),
    "agg_cohens_kappa": QuerySpec(q_agg_cohens_kappa, SQL_AGG_COHENS_KAPPA),
    "sample_interleave_shards": QuerySpec(
        q_sample_interleave_shards, SQL_SAMPLE_INTERLEAVE_SHARDS
    ),
    "text_readability": QuerySpec(q_text_readability, SQL_TEXT_READABILITY),
    "agg_source_entropy": QuerySpec(q_agg_source_entropy, SQL_AGG_SOURCE_ENTROPY),
    "text_ngram_novelty": QuerySpec(q_text_ngram_novelty, SQL_TEXT_NGRAM_NOVELTY),
    "text_gopher_rules": QuerySpec(q_text_gopher_rules, SQL_TEXT_GOPHER_RULES),
    "text_html_strip": QuerySpec(q_text_html_strip, SQL_TEXT_HTML_STRIP),
    "pack_bins_bfd": QuerySpec(q_pack_bins_bfd, None),
    "ann_filtered_topk": QuerySpec(q_ann_filtered_topk, SQL_ANN_FILTERED_TOPK),
    "dedup_minhash_portable": QuerySpec(
        q_dedup_minhash_portable, SQL_DEDUP_MINHASH_PORTABLE
    ),
    "dedup_simhash_portable": QuerySpec(
        q_dedup_simhash_portable, SQL_DEDUP_SIMHASH_PORTABLE
    ),
    "ann_lsh_portable": QuerySpec(q_ann_lsh_portable, SQL_ANN_LSH_PORTABLE),
    "graph_degree_stats": QuerySpec(q_graph_degree_stats, SQL_GRAPH_DEGREE_STATS),
    "dedup_prefix_jaccard": QuerySpec(
        q_dedup_prefix_jaccard, SQL_DEDUP_PREFIX_JACCARD
    ),
    "dedup_ngram_jaccard": QuerySpec(q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "dedup_rate_by_source": QuerySpec(
        q_dedup_rate_by_source, SQL_DEDUP_RATE_BY_SOURCE
    ),
    "dedup_pair_explain": QuerySpec(
        q_dedup_pair_explain, SQL_DEDUP_PAIR_EXPLAIN
    ),
    "dedup_minhash_lsh": QuerySpec(q_dedup_minhash_lsh, None),
    "dedup_simhash": QuerySpec(q_dedup_simhash, None),
    "dedup_embedding_cosine": QuerySpec(
        q_dedup_embedding_cosine, SQL_DEDUP_EMBEDDING_COSINE
    ),
    "ann_cosine_topk": QuerySpec(q_ann_cosine_topk, SQL_ANN_COSINE_TOPK),
    "ann_ivf_topk": QuerySpec(q_ann_ivf_topk, SQL_ANN_IVF_TOPK),
    "ann_lsh_bucketed": QuerySpec(q_ann_lsh_bucketed, None),
    "llm_prep_pipeline": QuerySpec(q_llm_prep_pipeline, SQL_LLM_PREP_PIPELINE),
    "text_lang_id": QuerySpec(q_text_lang_id, SQL_TEXT_LANG_ID),
    "text_quality": QuerySpec(q_text_quality, SQL_TEXT_QUALITY),
    "select_token_budget": QuerySpec(q_select_token_budget, SQL_SELECT_TOKEN_BUDGET),
    "profile_quality_by_source": QuerySpec(
        q_profile_quality_by_source, SQL_PROFILE_QUALITY_BY_SOURCE
    ),
    "filter_source_blocklist": QuerySpec(
        q_filter_source_blocklist, SQL_FILTER_SOURCE_BLOCKLIST
    ),
    "batch_length_buckets": QuerySpec(
        q_batch_length_buckets, SQL_BATCH_LENGTH_BUCKETS
    ),
    "dedup_incremental": QuerySpec(q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "sample_hash_split": QuerySpec(q_sample_hash_split, SQL_SAMPLE_HASH_SPLIT),
    "text_repetition": QuerySpec(q_text_repetition, SQL_TEXT_REPETITION),
    "cluster_kmeans": QuerySpec(q_cluster_kmeans, SQL_CLUSTER_KMEANS),
    "sample_cluster_balanced": QuerySpec(
        q_sample_cluster_balanced, SQL_SAMPLE_CLUSTER_BALANCED
    ),
    "text_token_count": QuerySpec(q_text_token_count, SQL_TEXT_TOKEN_COUNT),
    "text_fingerprint": QuerySpec(q_text_fingerprint, SQL_TEXT_FINGERPRINT),
    "tfidf_top_terms": QuerySpec(q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS),
    "multimodal_features": QuerySpec(q_multimodal_features, SQL_MULTIMODAL_FEATURES),
    "multimodal_frame_plan": QuerySpec(
        q_multimodal_frame_plan, SQL_MULTIMODAL_FRAME_PLAN
    ),
    "multimodal_binary_meta": QuerySpec(
        q_multimodal_binary_meta, SQL_MULTIMODAL_BINARY_META
    ),
    "decontaminate": QuerySpec(q_decontaminate, SQL_DECONTAMINATE),
    "dedup_paragraph": QuerySpec(q_dedup_paragraph, SQL_DEDUP_PARAGRAPH),
    "dedup_semantic": QuerySpec(q_dedup_semantic, SQL_DEDUP_SEMANTIC),
    "text_pii_scrub": QuerySpec(q_text_pii_scrub, SQL_TEXT_PII_SCRUB),
    "sample_weighted_mix": QuerySpec(q_sample_weighted_mix, SQL_SAMPLE_WEIGHTED_MIX),
    "dedup_cc_clusters": QuerySpec(q_dedup_cc_clusters, SQL_DEDUP_CC_CLUSTERS),
    "pack_sequences": QuerySpec(q_pack_sequences, SQL_PACK_SEQUENCES),
    "text_chunk_overlap": QuerySpec(q_text_chunk_overlap, SQL_TEXT_CHUNK_OVERLAP),
    "sample_stratified": QuerySpec(q_sample_stratified, SQL_SAMPLE_STRATIFIED),
    "text_unigram_logprob": QuerySpec(
        q_text_unigram_logprob, SQL_TEXT_UNIGRAM_LOGPROB
    ),
}
