"""Deduplication operators for document corpora.

Exact dedup is a hash-groupBy; near-dup is MinHash+LSH (banding),
prefix-filtered or blocked Jaccard, or SimHash — all implemented as
pure Catalyst expression pipelines (xxhash64 + array higher-order
functions), no Python UDFs, so every stage is whole-stage-codegen'd
and shuffles only on small keys.

Scale notes (the design target is ~100 TB of documents):
- shingling + signatures are map-side only (no shuffle);
- LSH banding shuffles once on (band, band_hash) — the candidate join
  (``_band_candidates``) is an equi-join on that key, never an
  all-pairs cross join;
- verification (``_verify_pairs``, shared by MinHash and prefix
  Jaccard) is pair-restricted: each a-side token is routed through the
  candidate pair list and equi-joined to the b-side on (id_b, token),
  so its work is linear in pairs x tokens per doc and no shingle array
  rides through the candidate join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from .text import normalize, words

# Persisted intermediates are recorded in Spark's CacheManager and
# nowhere else.  It holds each one until it is dropped (Python GC does
# not release them), so ``release_caches()`` empties it for the active
# session: call it between queries, after their results are consumed.
# The near-dup family (MinHash, SimHash, n-gram Jaccard) shares one
# corpus tokenization, roughly a third of each query's cost, with no
# memo on this side: a later query that builds the same persisted
# frame finds it in the CacheManager, which swaps the cached copy into
# its plan by result equality (an ``InMemoryTableScan``).  At 100 TB
# the same role is played by an explicit parquet materialization of
# the shingle table.


def release_caches() -> None:
    """Drop every cached frame of the active session."""
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.catalog.clearCache()


def shared_word_frame(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Persisted ``(id, ws: array<string>)`` tokenization of ``df`` —
    the one regex pass over the raw text that every near-dup algorithm
    downstream shares."""
    proj = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    return proj.select("id", words(F.col("text")).alias("ws")).persist()


def shared_shingle_frame(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Persisted exploded ``(id, shingle: long)`` distinct hashed word
    k-gram frame, derived from ``shared_word_frame`` — shared by
    MinHash (signatures + verification) and blocked Jaccard."""
    ws = shared_word_frame(df, id_col, text_col)
    return ws.select(
        "id",
        F.explode(hashed_shingles_from_words(F.col("ws"), k)).alias("shingle"),
    ).persist()


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized-text hash: one hash-shuffle, keeps the
    smallest id per group (deterministic survivor)."""
    return (
        df.withColumn("fp", F.md5(normalize(F.col(text_col))))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles (arrays stay JVM-side)."""
    ws = words(text)
    n = F.size(ws)
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.array_join(F.slice(ws, i, k), " "),
            ),
        ).otherwise(F.when(n > 0, F.array(F.array_join(ws, " "))).otherwise(F.array().cast("array<string>")))
    )


def hashed_shingles_from_words(ws: Column, k: int = 3) -> Column:
    """``hashed_word_shingles`` over an already-tokenized word array —
    the shared-tokenization entry point (see ``shared_word_frame``)."""
    n = F.size(ws)
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.xxhash64(F.array_join(F.slice(ws, i, k), " ")),
            ),
        ).otherwise(
            F.when(n > 0, F.array(F.xxhash64(F.array_join(ws, " ")))).otherwise(
                F.array().cast("array<long>")
            )
        )
    )


def hashed_word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles as 64-bit hashes — for operators
    that only need shingle *identity* (MinHash), not the string.

    Hash basis: ``xxhash64(array_join(slice(ws, i, k), ' '))`` — the
    hash of the space-joined shingle string.  An earlier form hashed
    the k word columns directly (``xxhash64(w_i, .., w_i+k-1)``) to
    skip the join, but measured 3x SLOWER at sf0.1 (2.8 s vs 0.9 s for
    the exploded shingle scan): higher-order ``transform`` bodies are
    interpreted per element, so k ``element_at`` child evaluations
    cost far more than one ``slice`` + one ``array_join`` node, and
    the string materialization they save is short-lived scan-side
    garbage anyway.  Downstream shuffles still move only the 8-byte
    long.  Corner: docs with fewer than k words hash their full
    word-join, which is exactly the same expression the >=k branch
    produces for n == k — consistent identity space, and the long
    form cannot collide into the k-gram space of longer docs beyond
    the hash's own 2^-64.
    """
    return hashed_shingles_from_words(words(text), k)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union.cast("double")).otherwise(F.lit(0.0))


def _band_candidates(banded: DataFrame, verify_threshold: float) -> DataFrame:
    """Distinct ``(id_a, n_a, id_b, n_b)`` pairs, ``id_a < id_b``, that
    share a band bucket of an ``(id, n_sh, band, bucket)`` frame: the
    LSH candidate self-equi-join of both MinHash forms, never an
    all-pairs cross join.

    n_sh (the doc's shingle count) rides through the banding, so the
    join applies the PPJoin length filter of ``prefix_jaccard_pairs``
    (lossless for the verified output) and verification needs no join
    back to the counts."""
    l, r = banded.alias("l"), banded.alias("r")
    size_ok = F.lit(verify_threshold - 1e-4)
    return (
        l.join(
            r,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bucket") == F.col("r.bucket"),
                F.col("l.id") < F.col("r.id"),
                F.col("l.n_sh") >= size_ok * F.col("r.n_sh"),
                F.col("r.n_sh") >= size_ok * F.col("l.n_sh"),
            ],
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("l.n_sh").alias("n_a"),
            F.col("r.id").alias("id_b"),
            F.col("r.n_sh").alias("n_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def _verify_pairs(
    tokens: DataFrame, tok: str, cand: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs ``(id_a, id_b,
    n_a, n_b)`` over the ``(id, <tok>)`` rows of ``tokens``: returns
    ``(id_a, id_b, jaccard)`` for the pairs whose Jaccard, rounded to 4
    decimals, is at least ``threshold`` (> 0).

    The intersection is PAIR-restricted: a-side tokens are routed
    through the candidate pair list first, so the b-side equi-join is
    keyed on (id_b, tok) and emits work linear in |pairs| x tokens/doc.
    An unrestricted tok == tok intersect would emit m x n rows for a
    hot token shared by m a-docs and n b-docs even when those pairs
    were never candidates — the quadratic term candidate generation
    exists to avoid.  |A u B| = n_a + n_b - |A n B| with the counts
    carried on the pair, and the output emits straight from the
    intersection aggregate: a pair with no common token is absent from
    it, which is why the threshold must be positive.  Both joins are
    plain shuffle equi-joins (no broadcast hint: the candidate set
    grows with the corpus; AQE may still broadcast a side it measures
    small)."""
    pair_tok = tokens.join(cand, tokens.id == cand.id_a).select(
        "id_a", "id_b", "n_a", "n_b", tok
    )
    common = (
        pair_tok.join(
            tokens.select(F.col("id").alias("id_b"), tok),
            on=["id_b", tok],
        )
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _check_threshold(verify_threshold: float) -> None:
    if not verify_threshold > 0:
        raise ValueError(
            f"verify_threshold must be > 0, got {verify_threshold!r} "
            "(pairs sharing no shingle are pruned by construction)"
        )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding.

    Pipeline (all codegen'd, shuffles only on small keys):
      1. explode shingles -> groupBy(id) with min(xxhash64(seed, sh))
         per permutation (map-side partial aggregation does the heavy
         lifting; one shuffle on id);
      2. band the signature, explode (band, bucket), self-equi-join on
         the bucket (``_band_candidates``);
      3. keep the candidates whose exact Jaccard is at least
         ``verify_threshold`` (> 0; ``_verify_pairs``).

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    _check_threshold(verify_threshold)
    rows_per_band = num_hashes // bands
    # The exploded shingle frame feeds three consumers here (signatures
    # and both sides of the verification join) and is SHARED with the
    # other near-dup algorithms in the session (shared_shingle_frame —
    # persisted, so the CacheManager serves it to later queries).  At
    # 100 TB the same role is played by a checkpointed/parquet-
    # materialized shingle table.  Shingles are born as 64-bit hashes:
    # no string materialization at all, every downstream shuffle/join
    # moves 8 bytes, and Jaccard over hashed shingles equals Jaccard
    # over strings up to 2^-64 collisions.
    sh = shared_shingle_frame(df, id_col, text_col, shingle_k)

    # The 128 per-seed mins and the band structs are built as SQL
    # strings, one F.expr per aggregate / one selectExpr for the band
    # array: building them as nested Column calls costs ~1 s of py4j
    # round-trips per query construction (measured sf-independent
    # driver overhead), the parsed plan is identical.
    # sig feeds both sides of the band self-join; persisted, else each
    # side re-runs the 128-min aggregate (~2 s CPU x 8 AQE stages at
    # sf0.1).  5000 rows x 129 longs here; at 100 TB the signature
    # table is the thing you materialize to parquet anyway.
    sig = sh.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_sh"),
        *[
            F.expr(f"min(xxhash64({seed}L, shingle)) AS h{seed}")
            for seed in range(num_hashes)
        ],
    ).persist()
    band_structs = ", ".join(
        "struct({b} AS band, xxhash64({cols}) AS bucket)".format(
            b=b,
            cols=", ".join(
                f"h{b * rows_per_band + i}" for i in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    banded = sig.selectExpr(
        "id", "n_sh", f"explode(array({band_structs})) AS bb"
    ).select("id", "n_sh", "bb.band", "bb.bucket")
    cand = _band_candidates(banded, verify_threshold)
    return _verify_pairs(sh, "shingle", cand, verify_threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    group_cols: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int = 100,
) -> DataFrame:
    """Blocked exact-Jaccard near-dup: pairs *within a blocking group*
    (e.g. same lang+source) that share at least one surviving shingle.
    SQL-expressible (oracle twin exists).

    Scale hygiene: a shingle shared by m documents would emit m^2 join
    rows, so one hot 3-gram (boilerplate, license headers) is a
    quadratic hot key at 100x scale.  Shingles whose per-block document
    frequency exceeds ``max_shingle_df`` are dropped from BOTH the
    candidate generation and the per-doc shingle counts (symmetric, so
    Jaccard stays a true set ratio over the surviving shingles) — the
    standard blocking-hygiene move: boilerplate shingles carry no
    near-dup signal.

    Shape: the df filter is a ``left_anti`` join against the *hot*
    key set (df > cap) — tiny by construction, so AQE broadcasts it
    and the drop happens map-side over the cached shingle frame (a
    genuinely large hot set degrades to a shuffle anti-join on the
    same keys, still correct).  After the anti join: one shuffle
    groups (block, shingle) -> the doc-id list per bucket (bounded by
    the cap, and persisted — counts and pairs both consume it), pairs
    explode map-side from each bucket (<= cap^2/2 per bucket by
    construction), then a pair-count aggregate."""
    if threshold <= 0:
        raise ValueError("threshold must be > 0 (pairs sharing no shingle are pruned)")
    if max_shingle_df < 2:
        raise ValueError("max_shingle_df must be >= 2 (a pair needs df 2)")
    # Shingles are grouping keys only here (Jaccard is a set ratio, no
    # ordering semantics — unlike prefix_jaccard_pairs, whose df-based
    # prefix ORDER must replay in the oracle), so collapse them to
    # 64-bit hashes at birth: the bucket aggregate groups and shuffles
    # 8-byte longs instead of k-word strings.  Collisions perturb a
    # pair's Jaccard by at most 2^-64 per shingle — far below the
    # 4-decimal rounding the comparison uses.
    # Hashed shingles come from the session-shared frame (one
    # tokenization for the whole near-dup family); the thin blocking
    # columns are joined back on id — two narrow columns off the
    # parquet scan, a co-partitioned join at scale, instead of a second
    # full tokenization of the corpus.
    sh = shared_shingle_frame(df, id_col, text_col, shingle_k).join(
        df.select(F.col(id_col).alias("id"), *[F.col(c) for c in group_cols]),
        "id",
    )
    # NULL block keys never matched the old (block, shingle) inner
    # join (null-unsafe equality) and never match the oracle twin's
    # USING join either — drop them map-side so the anti-join below
    # (whose NULL behavior is the opposite: never-match = KEPT)
    # preserves those exact semantics.
    for c in group_cols:
        sh = sh.filter(F.col(c).isNotNull())
    # (r14 note: persisting this blocked frame too was tried and
    # REVERTED — the three consumers' re-evaluations of the cheap
    # blocking join over the already-cached shingle frame run
    # CONCURRENTLY on idle cores, while a persist serializes them
    # behind one materialization + per-partition cache locks;
    # matched A/B measured it ~20% worse.)
    # COUNT first, filter, THEN collect: a single collect_list+count
    # aggregate materializes a hot shingle's complete id array in one
    # aggregation buffer BEFORE the df filter can drop it — a
    # boilerplate shingle in 1e8 docs of one block is a multi-GB
    # buffer in one task (review r8 round 7).  The count aggregate
    # carries constant state; the collect then runs only over
    # cap-bounded buckets.
    # Persist the df frame: the hot filter (counts side), the
    # pair-bucket filter (pairs side), and the registry's second
    # consumer (graph_degree_stats re-calls this builder, and finds the
    # cached copy in the CacheManager) all read it; it is one narrow
    # row per (block, shingle).  Caching dfc —
    # instead of the pre-r12 materialized kept frame — lets both
    # consumers below stay df-GATED: the old kept collect_list built
    # id arrays for EVERY surviving bucket, but ~94% of buckets are
    # df=1 singletons (sf0.1: 245k buckets, 15k with df >= 2) that can
    # never produce a pair, so the array build paid 16x more
    # aggregation state than the pair explode ever read (r11 brief #2;
    # measured 2.6 s -> 1.2 s warm).
    dfc = sh.groupBy(*group_cols, "shingle").agg(
        F.count(F.lit(1)).alias("df")
    ).persist()
    # The HOT complement (df > cap) is tiny by construction (at most
    # total-occurrences/cap rows; in practice a handful of boilerplate
    # shingles), so the df filter is an anti-join whose build side AQE
    # sizes at runtime: small -> broadcast (map-side drop over the
    # cached shingle frame), genuinely large -> shuffle anti-join on
    # the same keys (correct, just slower).  Letting AQE pick replaces
    # the previous eager hot.count() driver job + explicit broadcast
    # branch — one fewer blocking job per build, same physical plan in
    # the common case.  Joining the KEPT set back instead (the pre-r10
    # shape) was a second big-against-big shuffle that measured 1.84x
    # of the round-1 baseline.
    hot = dfc.filter(F.col("df") > max_shingle_df).select(*group_cols, "shingle")
    # Per-doc surviving-shingle counts straight off the (persisted)
    # shingle frame — no id-array materialization, constant agg state.
    counts = (
        sh.join(hot, [*group_cols, "shingle"], "left_anti")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    # Only buckets that can PRODUCE a pair (2 <= df <= cap) get an id
    # array: a cap-bounded collect_list over the few multi-doc buckets
    # (the semi-join build side is small, AQE broadcasts it).
    pair_buckets = dfc.filter(
        (F.col("df") >= 2) & (F.col("df") <= max_shingle_df)
    ).select(*group_cols, "shingle")
    kept = (
        sh.join(pair_buckets, [*group_cols, "shingle"], "left_semi")
        .groupBy(*group_cols, "shingle")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
    )
    ids = F.col("ids")
    pairs = kept.select(
        F.explode(
            F.flatten(
                F.transform(
                    ids,
                    lambda x, i: F.transform(
                        F.slice(ids, i + 2, F.size(ids)),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    common = pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_common"))
    return (
        common.join(
            counts.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a"
        )
        .join(counts.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    any word ``shingle_k``-gram with the benchmark set (the standard
    n-gram-overlap test-set contamination check for LLM corpora).

    Scale shape: the benchmark shingle set is tiny relative to the
    corpus (eval suites are MBs, the corpus is TBs) — distinct it and
    broadcast; the train side then needs ONE map-side semi-join per
    shingle, no shuffle of the corpus.  Counting contaminated shingles
    per doc is a partial-agg groupBy on id.  Returns one row per train
    doc: (id, n_contaminated, is_clean).
    """
    bench_sh = (
        benchmark.select(
            F.explode(word_shingles(F.col(text_col), shingle_k)).alias("shingle")
        )
        .distinct()
        .hint("broadcast")
    )
    train_sh = train.select(
        F.col(id_col).alias("id"),
        F.explode_outer(word_shingles(F.col(text_col), shingle_k)).alias("shingle"),
    )
    hits = (
        train_sh.join(bench_sh, "shingle", "inner")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        train.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).alias("n_contaminated"),
            (F.coalesce(F.col("n_contaminated"), F.lit(0)) == 0).alias("is_clean"),
        )
    )


def paragraph_chunks(text: Column, words_per_para: int = 15) -> Column:
    """Split a document into pseudo-paragraph chunks of
    ``words_per_para`` words (array<string>, order-preserving).  Real
    corpora split on blank lines; the synthetic tables have no
    newlines, so fixed-width word windows stand in — the dedup
    machinery downstream is delimiter-agnostic."""
    ws = words(text)
    n = F.size(ws)
    k = F.lit(words_per_para)
    n_para = F.ceil(n / k).cast("int")
    return F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), n_para - 1),
            lambda i: F.array_join(F.slice(ws, i * k + 1, words_per_para), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    words_per_para: int = 15,
    max_para_df: int = 1,
) -> DataFrame:
    """Paragraph-level dedup (C4-style): drop any paragraph whose
    corpus-wide document frequency exceeds ``max_para_df``, then
    reassemble each document from its surviving paragraphs in order.

    Shape: explode (id, idx, para) → one hash-agg for global paragraph
    df (on a 64-bit xxhash of the paragraph, so the shuffle moves 8
    bytes + count, never the text) → broadcast-able hot-paragraph set
    joined back (the hot set is small by definition: only paragraphs
    repeated across documents) → groupBy id, sort by idx, re-join.
    Returns (id, n_paras, n_dropped, clean_text).
    """
    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode_outer(paragraph_chunks(F.col(text_col), words_per_para)).alias(
            "idx", "para"
        ),
    ).withColumn("ph", F.xxhash64("para"))
    # the NULL row explode_outer emits for empty docs exists only so
    # ``totals`` sees every doc — it must not enter the dedup path
    # (xxhash64(NULL) is non-null, so two empty docs would otherwise
    # "share" a paragraph)
    real = paras.filter(F.col("para").isNotNull())
    # document frequency per paragraph hash (count distinct docs, not
    # occurrences, so an in-doc repeat doesn't self-censor)
    hot = (
        real.groupBy("ph")
        .agg(F.count_distinct("id").alias("pdf"))
        .filter(F.col("pdf") > max_para_df)
        .select("ph")
        .hint("broadcast")
    )
    kept = real.join(hot, "ph", "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "para"))),
                lambda s: s["para"],
            ),
            " ",
        ).alias("clean_text"),
    )
    totals = paras.groupBy("id").agg(
        F.count(F.when(F.col("para").isNotNull(), 1)).alias("n_paras")
    )
    return (
        totals.join(rebuilt, "id", "left")
        .select(
            "id",
            F.col("n_paras").cast("long").alias("n_paras"),
            (F.col("n_paras") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def simhash_votes(text: Column) -> Column:
    """64-slot bit-vote array: for each distinct word, xxhash64(word)
    contributes +1/-1 per bit position.  One ``aggregate`` fold, no
    shuffle, no UDF.

    NOTE: array higher-order functions are interpreted per element —
    this per-row form exists for composability (e.g. inside a larger
    projection); the scan-scale path is ``simhash_signatures`` below,
    whose explode + hash-aggregate stays in whole-stage codegen."""
    toks = F.array_distinct(words(text))
    return F.aggregate(
        toks,
        F.array_repeat(F.lit(0), 64),
        lambda acc, w: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(F.xxhash64(w), i).bitwiseAND(F.lit(1)) == 1,
                        F.lit(1),
                    ).otherwise(F.lit(-1))
                    for i in range(64)
                ]
            ),
            lambda a, b: a + b,
        ),
    )


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sh) SimHash signatures on the codegen path: explode
    distinct words, hash once per word, 64 conditional-sum aggregates
    (map-side partial agg; one shuffle on id).  Bit-identical to
    ``simhash_chunks(simhash_votes(text))`` (asserted in tests); the
    HOF fold is interpreted per array element while the hash aggregate
    is whole-stage-codegen'd, so the per-row advantage grows with
    document count (locally the one-time codegen compile of the
    64-aggregate masks much of it)."""
    # explode_outer keeps zero-word docs (one NULL row).  The hash is
    # when()-guarded: xxhash64(NULL) returns the SEED's hash (42), not
    # NULL — unguarded, a zero-word doc got signature [42,0,0,0]
    # instead of the fold form's all-zero (review r8 round 7, verified
    # live); with h NULL every bit test is NULL -> votes -1 ->
    # all-zero chunks, identical to the fold.
    # Built as SQL strings (one F.expr per vote aggregate, one
    # selectExpr for the chunk assembly): the nested-Column form costs
    # ~1.9 s of py4j round-trips per construction (64 aggregates x ~7
    # calls + 4 x 16 chunk terms), the parsed plan is identical.
    # Tokenization comes from the session-shared words frame (one
    # regex pass shared with MinHash/Jaccard in the same session).
    toks = (
        shared_word_frame(df, id_col, text_col)
        .select("id", F.explode_outer(F.array_distinct(F.col("ws"))).alias("w"))
        .withColumn("h", F.when(F.col("w").isNotNull(), F.xxhash64("w")))
    )
    votes = toks.groupBy("id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1"
                f" THEN 1 ELSE -1 END) AS v{i}"
            )
            for i in range(64)
        ]
    )
    chunk_exprs = ", ".join(
        "CAST(("
        + " + ".join(
            f"CASE WHEN v{c * 16 + i} > 0 THEN {1 << i} ELSE 0 END"
            for i in range(16)
        )
        + ") AS INT)"
        for c in range(4)
    )
    return votes.selectExpr("id", f"array({chunk_exprs}) AS sh")


def simhash_chunks(votes: Column) -> Column:
    """Assemble the vote array into 4 x 16-bit SimHash chunks
    (array<int>; kept chunked so the top bit never overflows a signed
    type and the LSH join key is already materialized)."""
    chunks = []
    for c in range(4):
        val: Column = F.lit(0)
        for i in range(16):
            val = val + F.when(
                F.element_at(votes, c * 16 + i + 1) > 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
        chunks.append(val.cast("int"))
    return F.array(*chunks)


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Candidate generation: the 4 16-bit chunks are the LSH tables; by
    pigeonhole any pair with hamming <= 3 shares a chunk — for larger
    budgets this is a recall-bounded heuristic (documented).  The
    chunk equi-join avoids the all-pairs cross join at scale.
    """
    # Both sides of the chunk self-join consume the signature frame;
    # persist it so the 64-vote aggregate runs once (same rationale as
    # the MinHash signature persist).
    base = simhash_signatures(df, id_col, text_col).persist()
    # SQL-string construction (selectExpr / one F.expr join condition)
    # for the same py4j-round-trip reason as simhash_signatures.
    chunk_structs = ", ".join(f"struct({c} AS chunk, sh[{c}] AS val)" for c in range(4))
    chunked = base.selectExpr(
        "id", "sh", f"explode(array({chunk_structs})) AS c"
    ).select("id", "sh", "c.chunk", "c.val")
    l, r = chunked.alias("l"), chunked.alias("r")
    ham = " + ".join(f"bit_count(l.sh[{c}] ^ r.sh[{c}])" for c in range(4))
    # The Hamming budget is part of the JOIN condition, not a
    # post-dedup filter: hamming is a pure function of the pair, so
    # filter-then-dedup and dedup-then-filter produce the identical
    # pair set, but the join-side predicate rejects far candidates
    # before the matched row (with both signature arrays) is ever
    # materialized or shuffled into dropDuplicates.  Measured sf0.1
    # (r14): hot chunk values put 1.51 M candidate pairs through the
    # join while only 98 k survive hamming <= 3 — the old shape
    # shuffled and hash-deduped all 1.51 M (~23 s of executor CPU in
    # one stage); this shape dedups only the survivors.  Same story at
    # 100 TB: the near-dup fraction is small by definition, so the
    # dedup shuffle shrinks by the same order.
    return (
        l.join(
            r,
            on=F.expr(
                "l.chunk = r.chunk AND l.val = r.val AND l.id < r.id"
                f" AND ({ham}) <= {int(max_hamming)}"
            ),
        )
        .selectExpr(
            "l.id AS id_a",
            "r.id AS id_b",
            f"CAST(({ham}) AS INT) AS hamming",
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Set-similarity join via prefix filtering (PPJoin-style, Xiao et
    al. WWW'08): lossless for Jaccard >= ``threshold``, with candidate
    generation bounded by token *rarity* instead of a blocking key.

    Each doc's distinct shingles are ordered globally by (document
    frequency asc, token asc); only the first
    ``n - ceil(threshold*n) + 1`` tokens — the rarest — are emitted as
    join keys.  Two docs with Jaccard >= t MUST share a prefix token
    (pigeonhole on the overlap bound), so recall is exact; and because
    prefixes hold each doc's *rarest* tokens, a hot boilerplate
    shingle (high df) never generates candidates — the hot-key
    quadratic blowup that plain shingle blocking needs a df cap for is
    structurally impossible here.

    Shuffles: token df count, per-doc sort/collect, prefix equi-join,
    verification count — all on token/id/pair keys, never all-pairs.
    (Production note: hash shingles to 64-bit at birth like
    ``minhash_lsh_pairs`` does; strings are kept here so the DuckDB
    oracle can replay the exact ordering.)

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    # The exploded token frame feeds FOUR consumers (df count, the
    # rank join, and both sides of the verification join); without a
    # persist each consumer re-runs tokenize+explode over the corpus —
    # profiled r14 at sf0.1 as four ~6.5 s-CPU stages of the same
    # subtree.  Same persist discipline as the ngram/minhash operators
    # (released by release_caches; never crosses a bench sample).  The
    # width-pinned repartition of the RAW doc rows (a
    # few MB) runs the tokenize CPU (~7 s at sf0.1) at full session
    # parallelism instead of the scan's spread width, and sets the
    # cached frame's width so AQE cannot serialize its consumers.
    tok = (
        df.repartition(
            df.sparkSession.sparkContext.defaultParallelism, id_col
        )
        .select(
            F.col(id_col).alias("id"),
            F.explode(word_shingles(F.col(text_col), shingle_k)).alias("tok"),
        )
        .persist()
    )
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = tok.join(dfreq, "tok")
    per_doc = ranked.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("df", "tok"))), lambda s: s["tok"]
        ).alias("toks"),
        F.count(F.lit(1)).alias("n_tok"),
    )
    plen = (F.col("n_tok") - F.ceil(F.lit(threshold) * F.col("n_tok")) + 1).cast(
        "int"
    )
    prefix = per_doc.select(
        "id", "n_tok", F.explode(F.slice("toks", 1, plen)).alias("tok")
    )
    l, r = prefix.alias("l"), prefix.alias("r")
    # PPJoin LENGTH filter (Xiao et al. §3.1), evaluated inside the
    # join: J(a,b) = c/(n_a+n_b-c) with c <= min(n) and n_a+n_b-c >=
    # max(n), so J <= min(n)/max(n); the output keeps only round(J,4)
    # >= t, hence every surviving pair has min(n) >= (t - 5e-5)·max(n).
    # The guard uses t - 1e-4 (strictly looser, so float noise cannot
    # clip a survivor): pairs it drops satisfy round(J,4) <= J + 5e-5
    # < t and were discarded by the final filter anyway — identical
    # output, fewer pairs through the dedup exchange and the
    # verification expansion.  The predicate is a function of the pair
    # alone, so filter-then-dedup equals dedup-then-filter.
    size_ok = F.lit(threshold - 1e-4)
    cand = (
        l.join(
            r,
            on=[
                F.col("l.tok") == F.col("r.tok"),
                F.col("l.id") < F.col("r.id"),
                F.col("l.n_tok") >= size_ok * F.col("r.n_tok"),
                F.col("r.n_tok") >= size_ok * F.col("l.n_tok"),
            ],
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.n_tok").alias("n_a"),
            F.col("r.n_tok").alias("n_b"),
        )
        # Width-pinned exchange: the verification tail is ONE fused
        # stage of broadcast joins streamed from this candidate list,
        # so ITS partitioning is the tail's parallelism — AQE
        # byte-coalescing saw a few MB of pairs and ran the whole pair
        # x token expansion (~5.7 s CPU at sf0.1) on one task.  A user
        # repartition is exempt from coalescing.  Pinning the expanded
        # pair x token stream instead measured 2x worse: it forced all
        # of it (566 MB at sf0.1) through an exchange, where the
        # planner's own join placement moves only ~8 MB.
        .repartition(
            df.sparkSession.sparkContext.defaultParallelism,
            "id_a",
            "id_b",
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verify_pairs(tok, "tok", cand, threshold)


def minhash_lsh_pairs_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH with every hash step engine-portable (``md5_long``),
    so a SQL oracle replays the EXACT candidate generation: per-seed
    signature mins, band buckets, candidate pairs, Jaccard verify.

    Same pipeline as ``minhash_lsh_pairs`` (explode -> hash-agg
    signature -> ``_band_candidates`` -> ``_verify_pairs``); only the
    hash functions differ.  Use the xxhash64 form in production — this
    one exists to put the LSH *mechanism* under the external oracle
    gate.
    """
    _check_threshold(verify_threshold)
    rows_per_band = num_hashes // bands
    # The shingle frame is persisted (one tokenize for the signature
    # and both verify sides); the entry repartition runs the hash CPU
    # at session width instead of the scan's spread width.
    sh = (
        df.repartition(
            df.sparkSession.sparkContext.defaultParallelism, id_col
        )
        .select(
            F.col(id_col).alias("id"),
            F.explode(word_shingles(F.col(text_col), shingle_k)).alias(
                "shingle"
            ),
        )
        .persist()
    )
    sig = sh.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_sh"),
        *[
            F.min(
                md5_long(F.concat_ws(":", F.lit(str(seed)), F.col("shingle")))
            ).alias(f"h{seed}")
            for seed in range(num_hashes)
        ],
    )
    banded = sig.select(
        "id",
        "n_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        md5_long(
                            F.concat_ws(
                                ":",
                                *[
                                    F.col(f"h{b * rows_per_band + i}").cast(
                                        "string"
                                    )
                                    for i in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "n_sh", "bb.band", "bb.bucket")
    cand = _band_candidates(banded, verify_threshold)
    return _verify_pairs(sh, "shingle", cand, verify_threshold)


def simhash_pairs_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
) -> DataFrame:
    """SimHash near-dup pairs with engine-portable (md5-derived) word
    hashes: 60 bit-votes, 4 x 15-bit chunks, chunk-equality candidate
    join, Hamming verify — all integer arithmetic, so a SQL oracle
    replays every bit exactly.  Zero-word docs are excluded (they have
    no signature; both engines drop them identically).  The xxhash64
    ``simhash_pairs`` stays the production form."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(words(F.col(text_col)))).alias("w"),
    ).withColumn("h", md5_long(F.concat_ws(":", F.col("w"))))
    # r14 batch 7: the 60 per-bit vote aggregates, the 4 x 15 chunk
    # chains and the explode array are SQL expression strings — the
    # Column-API builds cost ~9.5 s of driver plan construction per
    # call (`tools/run_query.py --build-only` radar).  Same literals, same
    # left-associated sums, same CASE shapes: parsed trees and every
    # signature bit are unchanged (oracle-replayed).
    votes = toks.groupBy("id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1"
                f" THEN 1 ELSE -1 END) AS v{i}"
            )
            for i in range(60)
        ]
    )
    sig = votes.selectExpr(
        "id",
        *[
            "CAST((0 + "
            + " + ".join(
                f"CASE WHEN v{c * 15 + i} > 0 THEN {1 << i} ELSE 0 END"
                for i in range(15)
            )
            + f") AS BIGINT) AS c{c}"
            for c in range(4)
        ],
    )
    exploded = sig.selectExpr(
        "id",
        "c0",
        "c1",
        "c2",
        "c3",
        "explode(array("
        + ", ".join(
            f"named_struct('chunk', {c}, 'val', c{c})" for c in range(4)
        )
        + ")) AS cc",
    ).select("id", "c0", "c1", "c2", "c3", "cc.chunk", "cc.val")
    l, r = exploded.alias("l"), exploded.alias("r")
    hamming: Column = F.lit(0)
    for c in range(4):
        hamming = hamming + F.bit_count(
            F.col(f"l.c{c}").bitwiseXOR(F.col(f"r.c{c}"))
        )
    # Hamming budget inside the join condition — same rewrite (and
    # same output-identity argument) as the production simhash_pairs:
    # far candidates die before the matched row materializes, so the
    # dropDuplicates shuffle carries only true near-dups.
    return (
        l.join(
            r,
            on=[
                F.col("l.chunk") == F.col("r.chunk"),
                F.col("l.val") == F.col("r.val"),
                F.col("l.id") < F.col("r.id"),
                hamming <= max_hamming,
            ],
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            hamming.cast("int").alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
