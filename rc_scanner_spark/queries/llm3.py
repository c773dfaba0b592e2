"""Round-5 LLM-pipeline additions: exact substring-span dedup (the
token-window form of "Deduplicating Training Data Makes Language
Models Better"-style exact-substring removal), Pareto-frontier data
selection, perceptual-hash near-dup on the multimodal column,
cross-source contamination matrices, Zipf-slope corpus forensics,
Poisson bootstrap resampling + distributed bootstrap CIs,
mixed-language detection, exact-k uniform sampling, compression-ratio
quality scoring, leakage-safe splitting, and dup-cluster size
histograms.

Shared scale discipline (per-query notes on each builder):
  * every join/shuffle key that starts life as a string is hashed to
    an md5-prefix LONG at birth (8-byte shuffle keys, replayable in
    the DuckDB twin);
  * windows partition on a bounded key (doc_id, lang, source) — no
    unpartitioned frames;
  * blocking (bands, buckets, length-bands) precedes every pairwise
    comparison — no all-pairs joins;
  * Python appears only at honestly-stubbed Arrow boundaries (phash
    decode, zlib) — everything else is codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.text import words
from . import QuerySpec, load_tuned
from ..functions.hashing import md5_long


_t = load_tuned


# --------------------------------------------------------------------
# Exact substring-span dedup (token-window form)
# --------------------------------------------------------------------

_SPAN_K = 10  # tokens per window


def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-substring coverage: hash every positional
    word 10-gram window, mark windows whose key appears in >= 2
    distinct docs, and report the fraction of each doc's tokens
    covered by the union of its duplicated windows — the signal
    exact-substring dedup pipelines use to cut boilerplate spans out
    of training text.

    Interval-union without an interval library: duplicated window
    starts within a doc are sorted (window over doc_id — bounded per
    doc); consecutive starts s, s' overlap iff s' - s < K, so each
    start contributes min(K, s' - s) tokens (the last contributes K).

    Portability: window keys are md5-prefix longs, identical in both
    engines (the portable-twin discipline)."""
    d = _t(spark, sf_dir, "documents")
    ws = d.select("doc_id", words(F.col("text")).alias("ws"))
    n = F.size("ws")
    # win carries only (doc_id, start, key) — n_tokens is NOT
    # threaded through the persisted frame (no consumer read it;
    # base derives it from the tokenized frame directly)
    win = ws.select(
        "doc_id",
        F.explode(
            F.when(
                n >= _SPAN_K,
                F.transform(
                    F.sequence(F.lit(1), n - (_SPAN_K - 1)),
                    lambda i: F.struct(
                        i.alias("start"),
                        md5_long(
                            F.array_join(F.slice("ws", i, _SPAN_K), " ")
                        ).alias("key"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<start:int,key:bigint>>")
            )
        ).alias("w"),
    ).select("doc_id", F.col("w.start").alias("start"), F.col("w.key").alias("key"))

    win = win.persist()  # read by dup_keys AND dup_win
    dup_keys = (
        win.groupBy("key")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("key")
    )
    dup_win = win.join(dup_keys, "key")
    w = Window.partitionBy("doc_id").orderBy("start")
    covered = (
        dup_win.withColumn("nxt", F.lead("start").over(w))
        .withColumn(
            "cov",
            F.when(
                F.col("nxt").isNotNull(),
                F.least(F.lit(_SPAN_K), F.col("nxt") - F.col("start")),
            ).otherwise(F.lit(_SPAN_K)),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_windows"),
            F.sum("cov").alias("covered_tokens"),
        )
    )
    # reuse the tokenized frame instead of re-tokenizing documents
    base = ws.select("doc_id", F.size("ws").alias("n_tokens"))
    return base.join(covered, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
        F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
        F.round(
            F.when(
                F.col("n_tokens") > 0,
                F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tokens"),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("dup_span_frac"),
    )


SQL_DEDUP_SUBSTRING_SPANS = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
  FROM documents
),
win AS (
  SELECT doc_id, len(ws) AS n_tokens, u.s AS start,
         CAST(concat('0x', substr(md5(
             array_to_string(ws[u.s:u.s + {_SPAN_K} - 1], ' ')
         ), 1, 15)) AS BIGINT) AS key
  FROM t,
       LATERAL (SELECT unnest(range(1, len(ws) - {_SPAN_K} + 2)) AS s) u
  WHERE len(ws) >= {_SPAN_K}
),
dup_keys AS (
  SELECT key FROM win GROUP BY key HAVING count(DISTINCT doc_id) >= 2
),
dup_win AS (
  SELECT w.* FROM win w JOIN dup_keys USING (key)
),
covered AS (
  SELECT doc_id, count(*) AS n_dup_windows,
         sum(CASE WHEN nxt IS NOT NULL
                  THEN least({_SPAN_K}, nxt - start)
                  ELSE {_SPAN_K} END) AS covered_tokens
  FROM (
    SELECT doc_id, start,
           lead(start) OVER (PARTITION BY doc_id ORDER BY start) AS nxt
    FROM dup_win
  ) GROUP BY 1
),
base AS (
  SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z]+'))
             AS n_tokens
  FROM documents
)
SELECT b.doc_id, b.n_tokens,
       coalesce(c.n_dup_windows, 0) AS n_dup_windows,
       CAST(coalesce(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
       round(CASE WHEN b.n_tokens > 0
                  THEN coalesce(c.covered_tokens, 0) * 1.0 / b.n_tokens
                  ELSE 0.0 END, 4) AS dup_span_frac
FROM base b LEFT JOIN covered c USING (doc_id)
"""


# --------------------------------------------------------------------
# Pareto-frontier data selection
# --------------------------------------------------------------------


def q_select_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-objective data selection: per language, keep the docs on
    the Pareto frontier of (maximize lexical quality, minimize token
    cost) — the skyline a budgeted curation pass samples from.  Doc X
    dominates Y iff X costs no more tokens and scores strictly better
    quality, or strictly fewer tokens and at-least-equal quality.

    Quality is integer-exact on both engines: q_ppm = (1e6 *
    n_distinct_words) DIV n_words (integer division — no float round
    ties, unlike a round(ratio, 6) which hits .5 boundaries on
    power-of-two word counts).

    Scale: dominance = two partitioned windows — running max quality
    over strictly-cheaper docs (RANGE ... 1 PRECEDING) plus the
    same-cost max — never an O(n^2) dominance self-join.  The frame
    partitions by lang; a global frontier would partition by a
    token-count band first and merge band frontiers."""
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "lang",
        "doc_id",
        F.size(words(F.col("text"))).alias("n_tokens"),
        F.size(F.array_distinct(words(F.col("text")))).alias("nd"),
    ).filter(F.col("n_tokens") > 0)
    scored = scored.select(
        "lang",
        "doc_id",
        "n_tokens",
        # nd through BIGINT first: F.size is INT32, and 1000000 * nd
        # overflows int32 at >= 2148 distinct words -> ANSI throw
        # (review r8 round 5, reproduced) while the twin's len() is
        # already BIGINT
        F.expr("(1000000 * CAST(nd AS BIGINT)) DIV n_tokens").alias("q_ppm"),
    )
    w_lt = (
        Window.partitionBy("lang")
        .orderBy("n_tokens")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq = Window.partitionBy("lang", "n_tokens")
    out = scored.select(
        "lang",
        "doc_id",
        "n_tokens",
        "q_ppm",
        F.max("q_ppm").over(w_lt).alias("best_cheaper"),
        F.max("q_ppm").over(w_eq).alias("best_same"),
    )
    return out.filter(
        (F.col("best_cheaper").isNull() | (F.col("q_ppm") > F.col("best_cheaper")))
        & (F.col("q_ppm") == F.col("best_same"))
    ).select("lang", "doc_id", "n_tokens", "q_ppm")


SQL_SELECT_PARETO_FRONTIER = """
WITH scored AS (
  SELECT lang, doc_id,
         len(regexp_extract_all(lower(text), '[a-z]+')) AS n_tokens,
         len(list_distinct(regexp_extract_all(lower(text), '[a-z]+')))
             AS nd
  FROM documents
),
q AS (
  SELECT lang, doc_id, n_tokens,
         (1000000 * nd) // n_tokens AS q_ppm
  FROM scored WHERE n_tokens > 0
),
ranked AS (
  SELECT lang, doc_id, n_tokens, q_ppm,
         max(q_ppm) OVER (PARTITION BY lang ORDER BY n_tokens
             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS best_cheaper,
         max(q_ppm) OVER (PARTITION BY lang, n_tokens) AS best_same
  FROM q
)
SELECT lang, doc_id, n_tokens, q_ppm
FROM ranked
WHERE (best_cheaper IS NULL OR q_ppm > best_cheaper)
  AND q_ppm = best_same
"""


# --------------------------------------------------------------------
# Perceptual-hash near-dup (multimodal)
# --------------------------------------------------------------------


def q_multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs via perceptual dHash + banded
    Hamming blocking (operators/multimodal.py phash_media /
    phash_candidate_pairs).  The decode->8x9-grayscale step is the
    honestly-stubbed codec boundary (deterministic fake, Arrow-
    batched); everything else — banding, collision join, bit_count
    verification — is Catalyst.  Rows-only check by design: the hash
    path crosses Python, so there is no SQL twin (same policy as
    dedup_minhash_lsh)."""
    from ..operators.multimodal import (
        attach_fake_media,
        phash_candidate_pairs,
        phash_media,
    )

    d = _t(spark, sf_dir, "documents")
    media = attach_fake_media(d)
    hashed = phash_media(media)
    return phash_candidate_pairs(hashed, max_hamming=12).orderBy(
        "id_a", "id_b"
    )


QUERIES: dict[str, QuerySpec] = {
    "dedup_substring_spans": QuerySpec(
        q_dedup_substring_spans, SQL_DEDUP_SUBSTRING_SPANS
    ),
    "select_pareto_frontier": QuerySpec(
        q_select_pareto_frontier, SQL_SELECT_PARETO_FRONTIER
    ),
    "multimodal_phash_neardup": QuerySpec(q_multimodal_phash_neardup, None),
}


# --------------------------------------------------------------------
# Cross-source contamination matrix
# --------------------------------------------------------------------


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-level n-gram contamination: for every source
    pair, how many distinct word-5-grams they share and the overlap
    coefficient shared/min(|A|, |B|) — the corpus-diagnostics matrix
    that tells you which "independent" crawls are actually mirrors.

    Scale: shingles collapse to distinct (source, key) pairs FIRST
    (md5-prefix longs — 8-byte join keys), so the self-join fan-out
    per shingle is bounded by #sources-containing-it squared (<= 20^2
    here), never by document count.  Output is #source-pairs rows."""
    # r14: entry repartition — the 5-gram md5 tokenize otherwise runs
    # at the scan's spread width (6 tasks for ~13 s of stage CPU).
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    sk = (
        d.select(
            "source",
            F.explode(
                F.array_distinct(
                    F.when(
                        F.size(words(F.col("text"))) >= 5,
                        F.transform(
                            F.sequence(
                                F.lit(1), F.size(words(F.col("text"))) - 4
                            ),
                            lambda i: md5_long(
                                F.array_join(
                                    F.slice(words(F.col("text")), i, 5),
                                    " ",
                                )
                            ),
                        ),
                    ).otherwise(F.array().cast("array<bigint>"))
                )
            ).alias("key"),
        )
        .distinct()
    )

    sk = sk.persist()  # read by sizes and both join sides
    sizes = sk.groupBy("source").agg(F.count(F.lit(1)).alias("n_keys"))
    a = sk.alias("a")
    b = sk.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.alias("sa_sz")
    sb = sizes.alias("sb_sz")
    return (
        shared.join(F.broadcast(sa), F.col("sa") == F.col("sa_sz.source"))
        .join(F.broadcast(sb), F.col("sb") == F.col("sb_sz.source"))
        .select(
            "sa",
            "sb",
            "n_shared",
            F.round(
                F.col("n_shared")
                / F.least(F.col("sa_sz.n_keys"), F.col("sb_sz.n_keys")),
                4,
            ).alias("overlap"),
        )
    )


SQL_SOURCE_OVERLAP_MATRIX = """
WITH t AS (
  SELECT source, regexp_extract_all(lower(text), '[a-z]+') AS ws
  FROM documents
),
sk AS (
  SELECT DISTINCT source,
         CAST(concat('0x', substr(md5(
             array_to_string(ws[u.s:u.s + 4], ' ')
         ), 1, 15)) AS BIGINT) AS key
  FROM t,
       LATERAL (SELECT unnest(range(1, len(ws) - 3)) AS s) u
  WHERE len(ws) >= 5
),
sizes AS (
  SELECT source, count(*) AS n_keys FROM sk GROUP BY 1
),
shared AS (
  SELECT a.source AS sa, b.source AS sb, count(*) AS n_shared
  FROM sk a JOIN sk b ON a.key = b.key AND a.source < b.source
  GROUP BY 1, 2
)
SELECT s.sa, s.sb, s.n_shared,
       round(s.n_shared * 1.0 / least(za.n_keys, zb.n_keys), 4) AS overlap
FROM shared s
JOIN sizes za ON za.source = s.sa
JOIN sizes zb ON zb.source = s.sb
"""


QUERIES["source_overlap_matrix"] = QuerySpec(
    q_source_overlap_matrix, SQL_SOURCE_OVERLAP_MATRIX
)


# --------------------------------------------------------------------
# Zipf-slope vocabulary fit per source
# --------------------------------------------------------------------

_ZIPF_TOP = 100  # ranks fitted per source


def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf fit: regression slope of ln(freq) on ln(rank)
    over the top-100 vocabulary — natural text sits near -1; synthetic
    or templated corpora drift toward 0 (flat) or below -1.5 (tiny
    effective vocab).  A distribution-shape fingerprint for corpus
    forensics next to agg_source_entropy.

    Scale: word counts are one hash aggregate; ranking partitions by
    source (bounded frames); the regression is regr_slope — a single
    partial+final aggregate over <= sources x 100 rows."""
    d = _t(spark, sf_dir, "documents")
    wc = (
        d.select("source", F.explode(words(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    rnk = Window.partitionBy("source").orderBy(
        F.desc("freq"), F.asc("w")
    )
    ranked = wc.withColumn("rank", F.row_number().over(rnk)).filter(
        F.col("rank") <= _ZIPF_TOP
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.round(
                F.expr("regr_slope(ln(freq), ln(rank))"), 4
            ).alias("zipf_slope"),
            F.round(
                F.expr("regr_r2(ln(freq), ln(rank))"), 4
            ).alias("fit_r2"),
            F.count(F.lit(1)).alias("n_ranks"),
        )
    )


SQL_TEXT_ZIPF_FIT = f"""
WITH wc AS (
  SELECT source, w, count(*) AS freq
  FROM (
    SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
    FROM documents
  ) GROUP BY 1, 2
),
ranked AS (
  SELECT source, freq,
         row_number() OVER (PARTITION BY source
                            ORDER BY freq DESC, w ASC) AS rank
  FROM wc
)
SELECT source,
       round(regr_slope(ln(freq), ln(rank)), 4) AS zipf_slope,
       round(regr_r2(ln(freq), ln(rank)), 4) AS fit_r2,
       count(*) AS n_ranks
FROM ranked WHERE rank <= {_ZIPF_TOP}
GROUP BY 1
"""


# --------------------------------------------------------------------
# Deterministic Poisson bootstrap resampling
# --------------------------------------------------------------------

# Inverse-CDF cutoffs for Poisson(1), capped at 5 copies:
# P(X=k) cumulative = .367879, .735759, .919699, .981012, .996340, 1.
# Shared by sample_poisson_bootstrap and bootstrap_ci_mean (one
# constant — a precision fix lands in both queries and both twins).
_POIS_CUTS = (0.367879, 0.735759, 0.919699, 0.981012, 0.996340)


def _poisson_k(u):
    """Inverse-CDF Poisson(1) draw from a uniform [0,1) column."""
    return (
        F.when(u < _POIS_CUTS[0], 0)
        .when(u < _POIS_CUTS[1], 1)
        .when(u < _POIS_CUTS[2], 2)
        .when(u < _POIS_CUTS[3], 3)
        .when(u < _POIS_CUTS[4], 4)
        .otherwise(5)
    )


def q_sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson(1) bootstrap resample of the corpus (the distributed
    bootstrap: per doc draw k ~ Poisson(1) copies, k derived from a
    salted md5 hash through the inverse CDF — deterministic, seedable,
    and embarrassingly parallel; no global sampling state).  Output is
    one row per replica with its copy index.

    Scale: pure map-side — a hash, a CASE ladder, and a
    posexplode(sequence); expected output size = input size (E[k]=1),
    max fan-out capped at 5."""
    d = _t(spark, sf_dir, "documents")
    u = (
        md5_long(F.concat(F.lit("boot1:"), F.col("doc_id")))
        % 1000000
    ) / 1000000.0
    return (
        d.select("doc_id", "source", _poisson_k(u).alias("k"))
        .filter(F.col("k") > 0)
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(1), F.col("k"))).alias("replica"),
        )
    )


SQL_SAMPLE_POISSON_BOOTSTRAP = f"""
WITH drawn AS (
  SELECT doc_id, source,
         (CAST(concat('0x', substr(md5('boot1:' || CAST(doc_id AS VARCHAR)),
              1, 15)) AS BIGINT) % 1000000) / 1000000.0 AS u
  FROM documents
),
k AS (
  SELECT doc_id, source,
         CASE WHEN u < {_POIS_CUTS[0]} THEN 0
              WHEN u < {_POIS_CUTS[1]} THEN 1
              WHEN u < {_POIS_CUTS[2]} THEN 2
              WHEN u < {_POIS_CUTS[3]} THEN 3
              WHEN u < {_POIS_CUTS[4]} THEN 4
              ELSE 5 END AS k
  FROM drawn
)
SELECT doc_id, source, CAST(g.r AS BIGINT) AS replica
FROM k, LATERAL (SELECT unnest(range(1, k + 1)) AS r) g
WHERE k > 0
"""


QUERIES["text_zipf_fit"] = QuerySpec(q_text_zipf_fit, SQL_TEXT_ZIPF_FIT)
QUERIES["sample_poisson_bootstrap"] = QuerySpec(
    q_sample_poisson_bootstrap, SQL_SAMPLE_POISSON_BOOTSTRAP
)


# --------------------------------------------------------------------
# Mixed-language document detection
# --------------------------------------------------------------------


def q_text_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switch / concatenation detection: language-ID the first
    and second halves of each doc independently (same deterministic
    marker-argmax as text_lang_id) and flag docs whose halves disagree
    — the classic symptom of crawl pages that glue two documents
    together, which single-label language filters silently mislabel.

    Scale: pure per-row regexp counting — map-side, codegen, no
    shuffle at all."""
    from ..operators.text import lang_id

    d = _t(spark, sf_dir, "documents")
    half = F.floor(F.length("text") / 2).cast("int")
    left = F.substring(F.col("text"), 1, half)
    right = F.expr(
        "substring(text, cast(floor(length(text) / 2) as int) + 1, length(text))"
    )
    out = d.select(
        "doc_id",
        lang_id(left).alias("lang_left"),
        lang_id(right).alias("lang_right"),
    )
    return out.select(
        "doc_id",
        "lang_left",
        "lang_right",
        (
            (F.col("lang_left") != F.col("lang_right"))
            & (F.col("lang_left") != "und")
            & (F.col("lang_right") != "und")
        ).alias("is_mixed"),
    )


def _lang_case(prefix: str) -> str:
    g = f"greatest({prefix}_en, {prefix}_de, {prefix}_fr, {prefix}_es)"
    return (
        f"CASE WHEN {prefix}_zh > 0 THEN 'zh' "
        f"WHEN {g} = 0 THEN 'und' "
        f"WHEN {prefix}_en = {g} THEN 'en' "
        f"WHEN {prefix}_de = {g} THEN 'de' "
        f"WHEN {prefix}_fr = {g} THEN 'fr' "
        f"WHEN {prefix}_es = {g} THEN 'es' ELSE 'und' END"
    )


def _sql_text_lang_mix() -> str:
    from ..operators.text import LANG_MARKERS as _M

    def scores(prefix: str, col: str) -> str:
        return ",\n         ".join(
            [
                f"len(regexp_extract_all(lower({col}), '{_M[lang]}')) AS {prefix}_{lang}"
                for lang in ("en", "de", "fr", "es")
            ]
            + [f"len(regexp_extract_all({col}, '[一-鿿]')) AS {prefix}_zh"]
        )

    return f"""
WITH h AS (
  SELECT doc_id,
         substring(text, 1, CAST(floor(length(text) / 2) AS INT)) AS lt,
         substring(text, CAST(floor(length(text) / 2) AS INT) + 1,
                   length(text)) AS rt
  FROM documents
),
s AS (
  SELECT doc_id,
         {scores("l", "lt")},
         {scores("r", "rt")}
  FROM h
)
SELECT doc_id,
       {_lang_case("l")} AS lang_left,
       {_lang_case("r")} AS lang_right,
       ({_lang_case("l")} <> {_lang_case("r")}
        AND {_lang_case("l")} <> 'und'
        AND {_lang_case("r")} <> 'und') AS is_mixed
FROM s
"""


SQL_TEXT_LANG_MIX = _sql_text_lang_mix()


# --------------------------------------------------------------------
# Distributed bootstrap confidence interval
# --------------------------------------------------------------------

_BOOT_B = 32  # resamples


def q_bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap 95% CI for the corpus mean doc length via B=32
    Poisson(1) resamples — the distributed bootstrap: each doc's
    per-resample multiplicity k_b is a WEIGHT (sum(k*x)/sum(k)), so no
    row is ever physically replicated; the only blowup is docs x B on
    aggregation inputs, map-side.

    Scale: one partial+final aggregate keyed on the 32 seeds, then a
    single-row quantile over 32 resample means.  Fully deterministic:
    hashes are salted md5 longs, identical in the DuckDB twin."""
    d = _t(spark, sf_dir, "documents")
    rep = d.select("doc_id", "n_chars").crossJoin(
        spark.range(1, _BOOT_B + 1).select(F.col("id").alias("b"))
    )
    u = (
        md5_long(
            F.concat(
                F.lit("ci:"),
                F.col("b").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        )
        % 1000000
    ) / 1000000.0
    means = (
        rep.select("b", "n_chars", _poisson_k(u).alias("k"))
        .groupBy("b")
        .agg(
            (
                F.sum(F.col("k") * F.col("n_chars"))
                / F.nullif(F.sum("k"), F.lit(0))
            ).alias("m")
        )
    )
    return means.agg(
        F.count(F.lit(1)).alias("n_resamples"),
        F.round(F.avg("m"), 4).alias("boot_mean"),
        F.round(F.expr("percentile(m, 0.025)"), 4).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.975)"), 4).alias("ci_hi"),
    )


SQL_BOOTSTRAP_CI_MEAN = f"""
WITH rep AS (
  SELECT d.doc_id, d.n_chars, g.b
  FROM documents d
  CROSS JOIN (SELECT unnest(range(1, {_BOOT_B} + 1)) AS b) g
),
drawn AS (
  SELECT b, n_chars,
         (CAST(concat('0x', substr(md5('ci:' || CAST(b AS VARCHAR) || ':'
              || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
          % 1000000) / 1000000.0 AS u
  FROM rep
),
weighted AS (
  SELECT b, n_chars,
         CASE WHEN u < {_POIS_CUTS[0]} THEN 0
              WHEN u < {_POIS_CUTS[1]} THEN 1
              WHEN u < {_POIS_CUTS[2]} THEN 2
              WHEN u < {_POIS_CUTS[3]} THEN 3
              WHEN u < {_POIS_CUTS[4]} THEN 4
              ELSE 5 END AS k
  FROM drawn
),
means AS (
  SELECT b, sum(k * n_chars) * 1.0 / nullif(sum(k), 0) AS m
  FROM weighted GROUP BY b
)
SELECT count(*) AS n_resamples,
       round(avg(m), 4) AS boot_mean,
       round(quantile_cont(m, 0.025), 4) AS ci_lo,
       round(quantile_cont(m, 0.975), 4) AS ci_hi
FROM means
"""


QUERIES["text_lang_mix"] = QuerySpec(q_text_lang_mix, SQL_TEXT_LANG_MIX)
QUERIES["bootstrap_ci_mean"] = QuerySpec(
    q_bootstrap_ci_mean, SQL_BOOTSTRAP_CI_MEAN
)


# --------------------------------------------------------------------
# Exact-k uniform sampling
# --------------------------------------------------------------------

_UNIFORM_K = 100


def q_sample_uniform_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k uniform corpus sample via salted-hash ranking:
    order by md5-long, keep the first k.  Unlike fraction-based
    sample() this yields a FIXED size (eval sets, human-review
    batches), stays deterministic across runs/partitionings, and
    plans as distributed TakeOrderedAndProject — per-partition top-k
    partials, never a global sort materialization or a single-node
    window.

    Scale: k rows per partition flow to the driver-side merge — the
    same shape as any top-k; salt the literal to draw a fresh
    sample."""
    d = _t(spark, sf_dir, "documents")
    h = md5_long(F.concat(F.lit("usamp1:"), F.col("doc_id")))
    return (
        d.select("doc_id", "source", h.alias("h"))
        .orderBy("h", "doc_id")
        .limit(_UNIFORM_K)
    )


SQL_SAMPLE_UNIFORM_K = f"""
SELECT doc_id, source,
       CAST(concat('0x', substr(md5('usamp1:' || CAST(doc_id AS VARCHAR)),
            1, 15)) AS BIGINT) AS h
FROM documents
ORDER BY h, doc_id
LIMIT {_UNIFORM_K}
"""


QUERIES["sample_uniform_k"] = QuerySpec(
    q_sample_uniform_k, SQL_SAMPLE_UNIFORM_K
)


# --------------------------------------------------------------------
# Compression-ratio quality scoring (Arrow-batched)
# --------------------------------------------------------------------


def q_text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style compressibility signal: zlib-compressed size over
    raw size per doc — highly repetitive/templated text compresses
    far below natural prose, making this one of the cheapest
    boilerplate detectors that tokenizers can't see.

    zlib lives in Python, so this is a deliberate Arrow-batched
    ``mapInPandas`` boundary (same policy as the multimodal codec):
    rows-only driver check, exact pytest ground truth against direct
    zlib (tests/test_warehouse2.py).

    Scale: embarrassingly parallel map-side pass; output is two longs
    and a rounded double per doc."""
    import zlib

    import pandas as pd

    d = _t(spark, sf_dir, "documents")

    def op(batches):
        for pdf in batches:
            raw = pdf["text"].map(lambda t: len((t or "").encode("utf-8")))
            comp = pdf["text"].map(
                lambda t: len(zlib.compress((t or "").encode("utf-8"), 6))
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_bytes": raw,
                    "zlib_bytes": comp,
                    "compression_ratio": [
                        round(c / r, 4) if r else 0.0
                        for c, r in zip(comp, raw)
                    ],
                }
            )

    return (
        d.select("doc_id", "text")
        .mapInPandas(
            op,
            schema="doc_id long, raw_bytes long, zlib_bytes long, "
            "compression_ratio double",
        )
        .orderBy("doc_id")
    )


QUERIES["text_compression_ratio"] = QuerySpec(q_text_compression_ratio, None)


# --------------------------------------------------------------------
# Leakage-safe train/val/test split
# --------------------------------------------------------------------


def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware corpus split: the split hash is computed on the
    normalized-text FINGERPRINT, not the doc id, so exact duplicates
    always land in the same split — the leakage guard a plain
    per-doc hash split (sample_hash_split) lacks.  Output includes a
    per-split dup-safety audit: every fingerprint must have exactly
    one distinct split.

    Scale: one fingerprint projection (map-side), split assignment is
    pure hashing; the audit is a fingerprint-keyed aggregate."""
    from ..operators.text import normalize

    d = _t(spark, sf_dir, "documents")
    fp = F.md5(normalize(F.col("text")))
    h = (
        md5_long(F.concat(F.lit("split1:"), fp), n_hex=4) % 100
    )
    assigned = d.select(
        "doc_id",
        fp.alias("fp"),
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test").alias(
            "split"
        ),
    )
    audit = assigned.groupBy("fp").agg(
        F.count_distinct("split").alias("n_splits"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return (
        assigned.join(audit, "fp")
        .select("doc_id", "split", "n_docs", "n_splits")
    )


SQL_SPLIT_LEAKAGE_SAFE = """
WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
),
assigned AS (
  SELECT doc_id, fp,
         CASE WHEN h < 80 THEN 'train'
              WHEN h < 90 THEN 'val' ELSE 'test' END AS split
  FROM (
    SELECT doc_id, fp,
           CAST(concat('0x', substr(md5('split1:' || fp), 1, 4)) AS BIGINT)
               % 100 AS h
    FROM fp
  )
),
audit AS (
  SELECT fp, count(DISTINCT split) AS n_splits, count(*) AS n_docs
  FROM assigned GROUP BY 1
)
SELECT a.doc_id, a.split, u.n_docs, u.n_splits
FROM assigned a JOIN audit u USING (fp)
"""


QUERIES["split_leakage_safe"] = QuerySpec(
    q_split_leakage_safe, SQL_SPLIT_LEAKAGE_SAFE
)


# --------------------------------------------------------------------
# Dup-cluster size histogram
# --------------------------------------------------------------------


def q_dedup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of exact-dup cluster sizes (1 = unique): the
    one-glance corpus-health chart — a fat tail here means a mirror
    or template factory upstream.  Two hash aggregations (fingerprint
    -> cluster size -> histogram), nothing else."""
    from ..operators.text import normalize

    d = _t(spark, sf_dir, "documents")
    sizes = d.select(
        F.md5(normalize(F.col("text"))).alias("fp")
    ).groupBy("fp").agg(F.count(F.lit(1)).alias("size"))
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("size").alias("n_docs"),
    )


SQL_DEDUP_CLUSTER_SIZE_HIST = """
WITH sizes AS (
  SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
         count(*) AS size
  FROM documents GROUP BY 1
)
SELECT size, count(*) AS n_clusters,
       CAST(sum(size) AS BIGINT) AS n_docs
FROM sizes GROUP BY 1
"""


QUERIES["dedup_cluster_size_hist"] = QuerySpec(
    q_dedup_cluster_size_hist, SQL_DEDUP_CLUSTER_SIZE_HIST
)


# --------------------------------------------------------------------
# ANN recall evaluation (IVF vs brute force)
# --------------------------------------------------------------------


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF index against the exact brute-force
    baseline — the evaluation harness an ANN deployment ships with:
    accuracy claims about approximate search need a measured number,
    not an architecture diagram.  Reuses both existing builders and
    joins their (query_id, vec_id) result sets; recall is integer ppm
    per query, then an integer-ppm mean (no float round ties).

    Scale: both arms are the already-audited plans; the comparison
    adds one equi-join on (query_id, vec_id) and a two-level
    aggregate."""
    from .llm import q_ann_cosine_topk, q_ann_ivf_topk

    brute = (
        q_ann_cosine_topk(spark, sf_dir).select("query_id", "vec_id")
        .persist()
    )  # read by the hits join AND the per-query k groupBy
    ivf = q_ann_ivf_topk(spark, sf_dir).select("query_id", "vec_id")
    hits = brute.join(ivf, ["query_id", "vec_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    per_q = (
        brute.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.expr(
                "(1000000 * coalesce(n_hit, 0)) DIV k"
            ).alias("recall_ppm"),
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.expr("sum(recall_ppm) DIV count(*)").alias("mean_recall_ppm"),
        F.min("recall_ppm").alias("min_recall_ppm"),
    )


def _sql_ann_recall_eval() -> str:
    from .llm import SQL_ANN_COSINE_TOPK, SQL_ANN_IVF_TOPK

    return f"""
WITH brute AS ({SQL_ANN_COSINE_TOPK}),
ivf AS ({SQL_ANN_IVF_TOPK}),
hits AS (
  SELECT b.query_id, count(*) AS n_hit
  FROM brute b JOIN ivf USING (query_id, vec_id)
  GROUP BY 1
),
per_q AS (
  SELECT b.query_id,
         (1000000 * coalesce(h.n_hit, 0)) // count(*) AS recall_ppm
  FROM brute b LEFT JOIN hits h USING (query_id)
  GROUP BY b.query_id, h.n_hit
)
SELECT count(*) AS n_queries,
       CAST(sum(recall_ppm) AS BIGINT) // count(*) AS mean_recall_ppm,
       min(recall_ppm) AS min_recall_ppm
FROM per_q
"""


SQL_ANN_RECALL_EVAL = _sql_ann_recall_eval()


QUERIES["ann_recall_eval"] = QuerySpec(q_ann_recall_eval, SQL_ANN_RECALL_EVAL)


# --------------------------------------------------------------------
# Embedding centroid-distance outlier diagnostics
# --------------------------------------------------------------------


def q_embed_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectors unusually far from the corpus centroid (cosine more
    than 2 sigma below the mean): the cheap isolation gate that
    surfaces corrupted or out-of-domain vectors before they poison an
    ANN index.  (A norm check is vacuous here — the embeddings are
    unit-normalized — so the diagnostic is directional.)

    Determinism: per-dim centroid means come from EXACT integer sums
    (values snap to a 1e-6 grid first), cosine lands on a 1e-4
    integer grid, and the mean/sd of that grid use exact integer
    sums — the only doubles are identical divisions, so no engine
    ulp can cross a flag boundary.

    Scale: one posexplode aggregate for the centroid (rows = dims),
    broadcast back; everything else is map-side + one single-row
    stats aggregate."""
    from ..functions.vectors import as_double_array, cosine

    e = _t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", as_double_array(F.col("embedding")).alias("v"))
    dims = (
        v.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.sum(F.floor(F.col("x") * 1e6 + 0.5).cast("long")).alias("s6"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("pos", (F.col("s6") / F.col("n") / 1e6).alias("m"))
    )
    centroid = dims.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda r: r["m"],
        ).alias("cv")
    )
    sims = v.crossJoin(F.broadcast(centroid)).select(
        "vec_id",
        F.floor(cosine(F.col("v"), F.col("cv")) * 10000 + 0.5)
        .cast("long")
        .alias("s4"),
    )
    stats = sims.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("s4").alias("s1"),
        # s4² <= 1e8 per row fits LONG, but the SUM passes 2^63 near
        # 9.2e10 vectors — decimal sum mirrors the twin's HUGEINT
        # (review r8 round 5)
        F.sum((F.col("s4") * F.col("s4")).cast("decimal(38,0)")).alias("s2"),
    ).select(
        (F.col("s1") / F.col("n")).alias("mu"),
        # s2 to DOUBLE at consumption (a decimal/long division would
        # diverge from the twin's HUGEINT*1.0 chain); greatest(,0)
        # clamps the float-rounded negative variance near s1² > 2^53
        # (the review-r8 Neyman precedent — DuckDB sqrt(-eps) throws)
        F.sqrt(
            F.greatest(
                F.col("s2").cast("double") / F.col("n")
                - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n")),
                F.lit(0.0),
            )
        ).alias("sd"),
    )
    return (
        sims.crossJoin(F.broadcast(stats))
        .filter(F.col("s4") < F.col("mu") - 2 * F.col("sd"))
        .select("vec_id", "s4")
    )


SQL_EMBED_CENTROID_OUTLIERS = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
dims AS (
  SELECT pos,
         sum(CAST(floor(x * 1e6 + 0.5) AS BIGINT)) * 1.0
             / count(*) / 1e6 AS m
  FROM (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM v)
  GROUP BY 1
),
c AS (SELECT array_agg(m ORDER BY pos) AS cv FROM dims),
sims AS (
  SELECT vec_id,
         CAST(floor(list_cosine_similarity(v.v, c.cv) * 10000 + 0.5)
              AS BIGINT) AS s4
  FROM v CROSS JOIN c
),
stats AS (
  SELECT sum(s4) * 1.0 / count(*) AS mu,
         sqrt(greatest(sum(s4 * s4) * 1.0 / count(*)
              - (sum(s4) * 1.0 / count(*)) * (sum(s4) * 1.0 / count(*)),
              0.0)) AS sd
  FROM sims
)
SELECT sims.vec_id, sims.s4
FROM sims CROSS JOIN stats
WHERE sims.s4 < stats.mu - 2 * stats.sd
"""


QUERIES["embed_centroid_outliers"] = QuerySpec(
    q_embed_centroid_outliers, SQL_EMBED_CENTROID_OUTLIERS
)
