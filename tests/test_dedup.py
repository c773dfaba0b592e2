"""Ground-truth tests for the hash-based dedup operators (no SQL
oracle possible — xxhash64 internals): MinHash recall against exact
brute-force Jaccard, SimHash behavior on identical/perturbed docs.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from rc_scanner_spark.operators.dedup import (
    decontaminate,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    paragraph_dedup,
    simhash_pairs,
    word_shingles,
)

from tests.conftest import SF_SMOKE


def _brute_force_pairs(spark, df, threshold):
    """Exact Jaccard over word-3-gram shingles, computed driver-side."""
    rows = df.select(
        "doc_id", word_shingles(F.col("text"), 3).alias("sh")
    ).collect()
    sets = {r["doc_id"]: set(r["sh"]) for r in rows if r["sh"]}
    out = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter == 0:
            continue
        j = inter / len(sets[a] | sets[b])
        if j >= threshold:
            out.add((a, b))
    return out


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


@pytest.mark.slow  # certification lane
def test_minhash_recall_and_precision(spark, docs):
    truth = _brute_force_pairs(spark, docs, 0.5)
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, verify_threshold=0.5).collect()
    }
    # Verification is exact Jaccard -> precision is 1.0 by construction.
    assert got <= truth or got == truth
    # LSH with 8 bands x 4 rows: P(candidate) at j=0.5 is
    # 1-(1-0.5^4)^8 ~ 0.40 per-pair... but the planted near-dups are
    # j~0.97 where P ~ 1-(1-0.89)^8 ~ 1.0.  Require full recall at 0.9.
    strong = _brute_force_pairs(spark, docs, 0.9)
    assert strong <= got
    assert truth, "test data should contain at least one >=0.5 pair"


@pytest.mark.slow  # certification lane
def test_ngram_jaccard_matches_brute_force(spark, docs):
    # Blocked variant restricted to (lang, source): brute force within
    # the same blocks.
    rows = docs.select("doc_id", "lang", "source").collect()
    block = {r["doc_id"]: (r["lang"], r["source"]) for r in rows}
    truth = {
        (a, b)
        for a, b in _brute_force_pairs(spark, docs, 0.5)
        if block[a] == block[b]
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            docs, group_cols=["lang", "source"], threshold=0.5
        ).collect()
    }
    assert got == truth


def test_exact_dedup_identifies_copies(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different")],
        "doc_id long, text string",
    )
    out = {r["keep_id"]: r["n_copies"] for r in exact_dedup(df).collect()}
    # normalization: lowercase + whitespace collapse -> 1 and 2 merge
    assert out == {1: 2, 3: 1}


def test_simhash_identical_and_disjoint(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),  # identical
            (3, "qqq www eee rrr ttt yyy uuu iii ooo ppp"),        # disjoint
        ],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_pairs(df, max_hamming=64).collect()}
    assert pairs.get((1, 2)) == 0
    # disjoint vocab: far apart (well above any near-dup threshold)
    assert all(h > 10 for (a, b), h in pairs.items() if (a, b) != (1, 2))


def test_minhash_empty_and_tiny_docs(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "one two"), (3, "one two")],
        "doc_id long, text string",
    )
    got = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(df, verify_threshold=0.5).collect()}
    assert got == {(2, 3)}  # empty doc dropped, sub-k docs still shingled


def test_simhash_signatures_match_fold_form(spark):
    from pyspark.sql import functions as F

    from rc_scanner_spark.operators.dedup import (
        simhash_chunks,
        simhash_signatures,
        simhash_votes,
    )
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    fold = docs.select(
        F.col("doc_id").alias("id"),
        simhash_chunks(simhash_votes(F.col("text"))).alias("sh"),
    )
    fast = simhash_signatures(docs)
    a = {r["id"]: r["sh"] for r in fold.collect()}
    b = {r["id"]: r["sh"] for r in fast.collect()}
    assert a == b


def test_ngram_hot_shingle_df_cap(spark):
    """A shingle shared by more documents than max_shingle_df must not
    generate candidate pairs (quadratic hot-key hygiene), while
    genuinely similar pairs still surface; the capped shingle is also
    excluded from the per-doc counts (symmetric set semantics)."""
    hot = "common boiler plate"  # one 3-gram shared by ALL docs
    rows = [
        # 6 docs share ONLY the hot shingle pairwise
        *[(i, f"common boiler plate unique{i} word{i} tail{i}") for i in range(6)],
        # 2 near-dup docs sharing their distinctive shingles
        (10, "alpha beta gamma delta epsilon"),
        (11, "alpha beta gamma delta zeta"),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "web") for i, t in rows],
        "doc_id long, text string, lang string, source string",
    )
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, group_cols=["lang", "source"], threshold=0.3, max_shingle_df=4
        ).collect()
    }
    # hot shingle has df 8 > 4 -> no pair among docs 0..5 (their only
    # overlap); the 10/11 pair survives on its uncapped shingles.
    assert all(a >= 10 for a, _ in out), out
    assert (10, 11) in out
    # uncapped: docs 10/11 share 'alpha beta gamma'+'beta gamma delta';
    # each has 3 shingles -> jaccard 2/4 = 0.5
    assert out[(10, 11)] == pytest.approx(0.5)


def test_dedup_release_caches_empties_persistent_rdds(spark, docs):
    """After a dedup sweep + release_caches(), no cached RDDs remain
    beyond what other modules had already persisted (long-lived
    sessions must not accumulate dedup cache).  Relative to a
    baseline snapshot so the test is order-independent — other test
    files (e.g. the graph label sweeps) legitimately leave their own
    persisted frames in the shared session."""
    from rc_scanner_spark.operators.dedup import release_caches

    release_caches()  # drop any dedup frames earlier tests left
    baseline = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    minhash_lsh_pairs(docs, verify_threshold=0.5).count()
    ngram_jaccard_pairs(docs, group_cols=["lang", "source"]).count()
    release_caches()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert after <= baseline


def test_ngram_jaccard_reuses_minhash_shingle_frame(spark):
    """The near-dup family shares one tokenization through Spark's
    cache manager alone: after dedup_minhash_lsh has run, building
    dedup_ngram_jaccard adds only its own df frame to the cache, and
    its plan scans the cached (id, shingle) frame."""
    import re

    from rc_scanner_spark.operators.dedup import release_caches
    from rc_scanner_spark.queries import build_registry

    registry = build_registry()
    cache = spark._jsparkSession.sharedState().cacheManager()
    release_caches()
    registry["dedup_minhash_lsh"].fn(spark, SF_SMOKE).write.format("noop").mode(
        "overwrite"
    ).save()
    n_cached = cache.cachedData().size()
    df = registry["dedup_ngram_jaccard"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    try:
        assert cache.cachedData().size() == n_cached + 1
        assert re.search(r"InMemoryTableScan \[id#\d+L, shingle#\d+L\]", plan)
    finally:
        release_caches()


def test_decontaminate_flags_planted_overlap(spark):
    """A train doc embedding a benchmark 8-gram is flagged; disjoint
    docs are clean; a doc sharing only a 7-gram stays clean."""
    # 8 shared words in order -> one shared 8-gram
    shared = "one two three four five six seven eight"
    bench = spark.createDataFrame(
        [(100, f"prefix {shared} suffix")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, f"leading words then {shared} trailing"),  # contaminated
            (2, "totally different vocabulary with nine distinct words here"),
            (3, "one two three four five six seven"),  # only a 7-gram
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: (r["n_contaminated"], r["is_clean"])
           for r in decontaminate(train, bench, shingle_k=8).collect()}
    assert out[1] == (1, False)
    assert out[2] == (0, True)
    assert out[3] == (0, True)
    # short doc (< k words) shingles as a whole-doc gram: no false hit
    assert set(out) == {1, 2, 3}


def test_paragraph_dedup_drops_cross_doc_paragraphs(spark):
    """A 3-word paragraph repeated across docs is dropped from both;
    in-doc repetition alone does not self-censor; text reassembles in
    order."""
    boiler = "aaa bbb ccc"
    df = spark.createDataFrame(
        [
            (1, f"{boiler} ddd eee fff"),          # para0=boiler para1=unique
            (2, f"{boiler} ggg hhh iii"),          # para0=boiler para1=unique
            (3, f"jjj kkk lll {boiler.replace(' ', 'x ')}"),  # no overlap
            (4, ""),                                # empty doc
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in paragraph_dedup(df, words_per_para=3).collect()}
    assert (out[1]["n_paras"], out[1]["n_dropped"]) == (2, 1)
    assert out[1]["clean_text"] == "ddd eee fff"
    assert out[2]["clean_text"] == "ggg hhh iii"
    assert (out[3]["n_paras"], out[3]["n_dropped"]) == (2, 0)
    assert (out[4]["n_paras"], out[4]["n_dropped"], out[4]["clean_text"]) == (0, 0, "")


def test_paragraph_dedup_in_doc_repeat_not_censored(spark):
    """df counts DISTINCT docs: a paragraph repeated within one doc is
    kept (both copies), only cross-doc repeats drop."""
    df = spark.createDataFrame(
        [(1, "aaa bbb ccc aaa bbb ccc"), (2, "xxx yyy zzz")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in paragraph_dedup(df, words_per_para=3).collect()}
    assert out[1]["clean_text"] == "aaa bbb ccc aaa bbb ccc"
    assert out[1]["n_dropped"] == 0


def test_prefix_jaccard_is_lossless_vs_brute_force(spark, docs):
    """Prefix filtering is exact for Jaccard >= t: the pair set must
    EQUAL brute force (not just contain it), on the real corpus."""
    from rc_scanner_spark.operators.dedup import prefix_jaccard_pairs

    expected = _brute_force_pairs(spark, docs, 0.5)
    got = {
        (r["id_a"], r["id_b"])
        for r in prefix_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert got == expected


def test_prefix_jaccard_hot_token_no_false_pairs(spark):
    """Docs sharing ONE boilerplate shingle but nothing else: the hot
    token's df is maximal so it never enters any prefix -> no
    candidates, no pairs; the two planted near-dups still match."""
    from rc_scanner_spark.operators.dedup import prefix_jaccard_pairs

    boiler = "creative commons license"
    rows = [
        # letter suffixes: the [a-z]+ tokenizer drops digits, which
        # would otherwise collapse every doc to the same text
        (
            i,
            f"{boiler} unique{s} alpha{s} beta{s} gamma{s} delta{s}".format(),
            "en",
            "s",
            0,
        )
        for i, s in ((i, chr(97 + i) * 2) for i in range(8))
    ]
    rows.append((100, "the quick brown fox jumps over the lazy dog", "en", "s", 0))
    rows.append((101, "the quick brown fox jumps over the lazy dog", "en", "s", 0))
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_jaccard_pairs(df, threshold=0.5).collect()
    }
    assert set(got) == {(100, 101)}
    assert got[(100, 101)] == 1.0


@pytest.mark.slow  # certification lane
def test_ngram_jaccard_random_matches_python_brute_force(spark, tmp_path):
    """Randomized replay of the blocked df-capped Jaccard against a
    plain-Python set implementation (tokens, short-doc fallback
    shingle, per-block df cap, half-up 4-decimal rounding all
    replicated independently).  Random small-vocab docs force heavy
    shingle sharing AND hot shingles over the cap — the exact paths
    the r8/r10 reworks (count-first bucket cap, broadcast left_anti
    hot drop) changed.  Distinct parquet paths per trial keep the
    memoized shared word/shingle frames from serving stale data."""
    import random
    import re
    from collections import Counter

    from rc_scanner_spark.operators.dedup import ngram_jaccard_pairs

    def py_shingles(text, k=3):
        ws = re.findall(r"[a-z]+", text.lower())
        if len(ws) >= k:
            return {" ".join(ws[i:i + k]) for i in range(len(ws) - k + 1)}
        return {" ".join(ws)} if ws else set()

    rng = random.Random(441)
    vocab = [f"w{i}" for i in range(10)]
    for trial in range(3):
        cap = 3
        rows = []
        for i in range(24):
            n = rng.randint(0, 8)
            text = " ".join(rng.choice(vocab) for _ in range(n))
            rows.append((i, text, "en", "s%d" % (i % 2)))
        rows.append((100, "###", "en", "s0"))  # symbol-only: no tokens
        sub = tmp_path / f"t{trial}"
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(sub / "documents.parquet")
        )
        df = spark.read.parquet(str(sub / "documents.parquet"))
        got = {
            (r.id_a, r.id_b): int(r.jaccard * 10000 + 0.5)
            for r in ngram_jaccard_pairs(
                df, group_cols=["lang", "source"],
                threshold=0.5, max_shingle_df=cap,
            ).collect()
        }
        # independent brute force
        sh = {d: py_shingles(t) for d, t, _, _ in rows}
        blk = {d: (lg, s) for d, _, lg, s in rows}
        bdf = Counter(
            (blk[d], s) for d in sh for s in sh[d]
        )
        surv = {
            d: {s for s in sh[d] if bdf[(blk[d], s)] <= cap} for d in sh
        }
        expect = {}
        ids = sorted(sh)
        for ai, a in enumerate(ids):
            for b in ids[ai + 1:]:
                if blk[a] != blk[b]:
                    continue
                inter = len(surv[a] & surv[b])
                if not inter:
                    continue
                union = len(surv[a]) + len(surv[b]) - inter
                j4 = int(inter / union * 10000 + 0.5)  # half-up, as Spark
                if j4 >= 5000:
                    expect[(a, b)] = j4
        assert got == expect
        assert any(v > cap for v in bdf.values()), (
            "trial should exercise the hot-shingle drop"
        )


def test_prefix_jaccard_random_matches_python_brute_force(spark):
    """Randomized replay of the PPJoin-style prefix-filtered join: the
    prefix filter is LOSSLESS for Jaccard >= threshold, so the output
    must equal a plain-Python all-pairs set Jaccard exactly — pairs
    AND half-up-rounded scores — on every draw.  Small vocab forces
    shared and hot shingles; short and token-free docs exercise the
    fallback-shingle paths."""
    import random
    import re
    from itertools import combinations

    from rc_scanner_spark.operators.dedup import prefix_jaccard_pairs

    def py_shingles(text, k=3):
        ws = re.findall(r"[a-z]+", text.lower())
        if len(ws) >= k:
            return {" ".join(ws[i:i + k]) for i in range(len(ws) - k + 1)}
        return {" ".join(ws)} if ws else set()

    rng = random.Random(442)
    vocab = [f"w{i}" for i in range(8)]
    for _ in range(3):
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 8))))
            for i in range(20)
        ]
        rows.append((99, "..."))  # token-free
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.id_a, r.id_b): int(r.jaccard * 10000 + 0.5)
            for r in prefix_jaccard_pairs(df, threshold=0.5).collect()
        }
        sh = {d: py_shingles(t) for d, t in rows}
        expect = {}
        for a, b in combinations(sorted(sh), 2):
            inter = len(sh[a] & sh[b])
            if not inter:
                continue
            union = len(sh[a]) + len(sh[b]) - inter
            j4 = int(inter / union * 10000 + 0.5)
            if j4 >= 5000:
                expect[(a, b)] = j4
        assert got == expect
        assert expect, "draw should contain at least one qualifying pair"


_FAILURE_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),
    (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (4, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    (5, "completely unrelated words appear in this short document"),
]


@pytest.mark.parametrize(
    "op", ["minhash_lsh_pairs", "minhash_lsh_pairs_portable", "prefix_jaccard_pairs"]
)
def test_near_dup_failure_midway_leaks_nothing(spark, op):
    """A near-dup query that fails inside a task (one document's text
    is ``raise_error``) leaves the session's conf as it was, and
    ``release_caches()`` drops the frames it persisted before failing;
    a clean rerun then returns the brute-force pairs."""
    from rc_scanner_spark.operators import dedup

    fn = getattr(dedup, op)
    clean = spark.createDataFrame(_FAILURE_DOCS, "doc_id long, text string")
    broken = clean.withColumn(
        "text",
        F.when(F.col("doc_id") == 5, F.raise_error(F.lit("injected failure"))).otherwise(
            F.col("text")
        ),
    )
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    conf = {k: spark.conf.get(k) for k in keys}
    cache = spark._jsparkSession.sharedState().cacheManager()

    with pytest.raises(Exception, match="injected failure"):
        fn(broken).collect()
    assert {k: spark.conf.get(k) for k in keys} == conf
    dedup.release_caches()
    assert cache.isEmpty()

    got = {(r["id_a"], r["id_b"]) for r in fn(clean).collect()}
    dedup.release_caches()
    assert got == _brute_force_pairs(spark, clean, 0.5) == {(1, 2), (3, 4)}


@pytest.mark.parametrize("op", ["minhash_lsh_pairs", "minhash_lsh_pairs_portable"])
@pytest.mark.parametrize("threshold", [0, -0.5])
def test_minhash_rejects_non_positive_threshold_before_persisting(
    spark, docs, op, threshold
):
    """A non-positive verify_threshold is refused at entry: nothing is
    persisted (the cache manager stays empty) before the ValueError."""
    from rc_scanner_spark.operators import dedup

    cache = spark._jsparkSession.sharedState().cacheManager()
    dedup.release_caches()
    with pytest.raises(ValueError, match="verify_threshold"):
        getattr(dedup, op)(docs, verify_threshold=threshold)
    assert cache.isEmpty()
