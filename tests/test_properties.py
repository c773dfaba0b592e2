"""Property-based spot checks (SURVEY.md §5 item 4) — hypothesis
generates adversarial text corpora, Spark evaluates, invariants must
hold.  Batched: each example set becomes ONE DataFrame so Spark runs
once per example, not once per row."""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

TEXTS = st.lists(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Lu", "Ll", "Nd", "Zs", "Po"), max_codepoint=0x2FF
        ),
        max_size=80,
    ),
    min_size=1,
    max_size=12,
)

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(texts=TEXTS)
@SLOW
def test_normalize_is_idempotent(spark, texts):
    from rc_scanner_spark.operators.text import normalize

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    out = df.select(
        normalize(F.col("text")).alias("once"),
    ).withColumn("twice", normalize(F.col("once")))
    assert all(r["once"] == r["twice"] for r in out.collect())


@given(texts=TEXTS)
@SLOW
def test_fingerprint_invariant_under_whitespace_and_case(spark, texts):
    from rc_scanner_spark.operators.text import fingerprint

    # case variation must use Spark's own upper(): Python str.upper and
    # JVM lower() disagree on exotic foldings (e.g. µ -> Greek Mu)
    rows = [(t, "  " + t.replace(" ", "   ") + " ") for t in texts]
    df = spark.createDataFrame(rows, "a string, b string")
    out = df.select(
        fingerprint(F.col("a")).alias("fa"),
        fingerprint(F.upper(F.col("b"))).alias("fb"),
    )
    assert all(r["fa"] == r["fb"] for r in out.collect())


@given(texts=TEXTS)
@SLOW
def test_regex_union_superset_of_each_pattern(spark, texts):
    """The |-union prefilter optimization is sound: any row matched by
    an individual pattern is matched by the union."""
    from rc_scanner_spark.functions.regex import regex_hits

    pats = ["[0-9]+", "[A-Z][a-z]+"]
    union = "|".join(f"(?:{p})" for p in pats)
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    out = df.select(
        (F.size(regex_hits(F.col("text"), pats)) > 0).alias("any_single"),
        F.col("text").rlike(union).alias("union_hit"),
    )
    for r in out.collect():
        if r["any_single"]:
            assert r["union_hit"]


@given(texts=TEXTS)
@SLOW
def test_exact_dedup_copies_collapse(spark, texts):
    """Doubling a corpus never changes the group count, and every
    group's copy count doubles."""
    from rc_scanner_spark.operators.dedup import exact_dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    doubled = df.union(
        spark.createDataFrame(
            [(i + 1000, t) for i, t in rows], "doc_id long, text string"
        )
    )
    one = {r["fp"]: r["n_copies"] for r in exact_dedup(df).collect()}
    two = {r["fp"]: r["n_copies"] for r in exact_dedup(doubled).collect()}
    assert set(one) == set(two)
    assert all(two[fp] == 2 * n for fp, n in one.items())


@given(texts=TEXTS)
@SLOW
def test_jaccard_bounds_and_symmetry(spark, texts):
    from rc_scanner_spark.operators.dedup import jaccard, word_shingles

    rows = [(a, b) for a, b in zip(texts, reversed(texts))]
    df = spark.createDataFrame(rows, "a string, b string")
    sa = word_shingles(F.col("a"))
    sb = word_shingles(F.col("b"))
    out = df.select(
        jaccard(sa, sb).alias("jab"), jaccard(sb, sa).alias("jba")
    ).collect()
    for r in out:
        assert 0.0 <= r["jab"] <= 1.0
        assert abs(r["jab"] - r["jba"]) < 1e-12


def test_pii_scrub_planted_patterns(spark):
    """Each PII category is counted and replaced; clean text is
    untouched; counts reflect sequential passes (an email's digits are
    gone before the id pass)."""
    from rc_scanner_spark.operators.text import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "reach me at jane.doe+spam@mail.example.org thanks"),
            (2, "server 192.168.1.100 and backup 10.0.0.7"),
            (3, "call (555) 867-5309 or 555-123-4567 now"),
            (4, "account 123456789 pin 99"),   # 6+ digits yes, 2 digits no
            (5, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    cols = pii_scrub(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            *[cols[k].alias(k) for k in ("n_email", "n_ipv4", "n_phone", "n_id_number")],
            cols["scrubbed"].alias("scrubbed"),
        ).collect()
    }
    assert out[1]["n_email"] == 1 and "<EMAIL>" in out[1]["scrubbed"]
    assert "@" not in out[1]["scrubbed"]
    assert out[2]["n_ipv4"] == 2 and out[2]["scrubbed"].count("<IP>") == 2
    assert out[3]["n_phone"] == 2 and out[3]["scrubbed"].count("<PHONE>") == 2
    assert out[4]["n_id_number"] == 1 and "<ID>" in out[4]["scrubbed"]
    assert out[4]["scrubbed"].endswith("pin 99")
    assert out[5]["scrubbed"] == "no pii here at all"
    assert all(out[5][k] == 0 for k in ("n_email", "n_ipv4", "n_phone", "n_id_number"))


def test_cohens_kappa_known_value(spark, tmp_path):
    """Kappa against a hand-computed 2x2 case: raters agree on 6 of 8,
    marginals give pe = 0.53125 -> kappa = (0.75-0.53125)/(1-0.53125)."""
    import pyspark.sql.functions as F

    # labels: rater a = label; rater b = label for even ids, +1 mod 10
    # for odd — replicate the query's derivation on a planted frame
    rows = [(i, [0.0] * 4, i % 2) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")
    from rc_scanner_spark.queries.llm import q_agg_cohens_kappa

    out = q_agg_cohens_kappa(spark, sf).collect()[0]
    # a = (0,1,0,1,...); b = a for even vec_id (a=0), a+1=2 for odd (a=1)
    # agreements: even ids only -> po = 4/8 = 0.5
    # marginals: a: 0->4, 1->4 ; b: 0->4, 2->4 ; pe = (4*4)/64 = 0.25
    assert out["po"] == 0.5
    assert out["pe"] == 0.25
    assert out["kappa"] == round((0.5 - 0.25) / (1 - 0.25), 6)


@pytest.mark.slow  # certification lane
def test_partitioning_invariance_of_dedup_and_sampling(spark, tmp_path):
    """The same logical input under different physical layouts (1 vs 7
    partitions) must produce identical results for the operators whose
    docstrings promise partitioning-invariance."""
    import pyspark.sql.functions as F

    from rc_scanner_spark.tables import load_table

    src = load_table(spark, "/root/testdata/sf0.001", "documents")
    lay1 = str(tmp_path / "p1")
    lay7 = str(tmp_path / "p7")
    src.coalesce(1).write.parquet(f"{lay1}/documents.parquet")
    src.repartition(7).write.parquet(f"{lay7}/documents.parquet")

    from rc_scanner_spark.queries.llm import (
        q_dedup_cc_clusters,
        q_dedup_prefix_jaccard,
        q_pack_sequences,
        q_sample_weighted_mix,
    )

    for fn in (
        q_dedup_cc_clusters,
        q_dedup_prefix_jaccard,
        q_pack_sequences,
        q_sample_weighted_mix,
    ):
        a = sorted(map(repr, fn(spark, lay1).collect()))
        b = sorted(map(repr, fn(spark, lay7).collect()))
        assert a == b, f"{fn.__name__} differs across physical layouts"


_REGEX_ATOMS = ["a", "b", "c", "x", r"\d", r"\w", r"\s", "[ab]", "[^c]", "."]
_REGEX_QUANTS = ["", "*", "+", "?", "{1,2}"]


@st.composite
def _simple_patterns(draw):
    n = draw(st.integers(min_value=1, max_value=4))
    parts = []
    for _ in range(n):
        atom = draw(st.sampled_from(_REGEX_ATOMS))
        parts.append(atom + draw(st.sampled_from(_REGEX_QUANTS)))
    pat = "".join(parts)
    if draw(st.booleans()):
        pat = f"({pat}|{draw(st.sampled_from(_REGEX_ATOMS))})"
    if draw(st.booleans()):
        pat = "^" + pat
    if draw(st.booleans()):
        pat = pat + r"\Z"
    return pat


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    pats=st.lists(_simple_patterns(), min_size=1, max_size=4, unique=True),
    texts=st.lists(
        st.text(alphabet="abcx 1\n", min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    ),
)
def test_regex_translation_matches_python_re(spark, pats, texts):
    """The central F4 parity property: for every translated pattern,
    Spark's rlike must agree with Python's re.search on arbitrary
    inputs (reference filter_.py:110-112 applies re.search)."""
    import pyspark.sql.functions as F

    from rc_scanner_spark.functions.regex import translate_pattern

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    cols = [
        F.col("t").rlike(translate_pattern(re.compile(p))).alias(f"m{j}")
        for j, p in enumerate(pats)
    ]
    rows = df.select("i", *cols).collect()
    for r in rows:
        t = texts[r["i"]]
        for j, p in enumerate(pats):
            expected = re.search(p, t) is not None
            assert r[f"m{j}"] == expected, (p, t)


@settings(max_examples=60, deadline=None)
@given(
    frames=st.lists(
        st.tuples(
            st.one_of(st.none(), st.text(alphabet="abcmsg", min_size=1, max_size=8)),
            st.one_of(st.none(), st.text(alphabet="0123456789of[]\",:{}", max_size=20)),
            st.lists(
                st.text(alphabet="abc {}:\",7", max_size=15), min_size=1, max_size=3
            ),
        ),
        min_size=1,
        max_size=5,
    ),
    noise=st.booleans(),
)
def test_sse_render_parse_roundtrip(frames, noise):
    """EventSource round-trip: any (event, id, multi-line data) frame
    set rendered to SSE wire lines parses back to the same frames —
    multi-line data joins with newline, comments and heartbeats are
    ignored, blank lines delimit."""
    from rc_scanner_spark.sources.sse import parse_sse_events

    lines = []
    for ev, fid, data_lines in frames:
        if noise:
            lines.append(": heartbeat")
        if ev is not None:
            lines.append(f"event: {ev}")
        if fid is not None:
            lines.append(f"id: {fid}")
        for dl in data_lines:
            lines.append(f"data: {dl}")
        lines.append("")
    parsed = list(parse_sse_events(lines))
    assert len(parsed) == len(frames)
    for got, (ev, fid, data_lines) in zip(parsed, frames):
        # contract: event is None when the field is absent (consumers
        # treat None as the spec's default "message" type)
        assert got["event"] == ev
        assert got["id"] == fid
        assert got["data"] == "\n".join(data_lines)


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("abcdefgh"), min_size=0, max_size=40
        ).map(lambda toks: " ".join(toks)),
        min_size=2,
        max_size=8,
    )
)
@SLOW
@pytest.mark.slow  # certification lane
def test_substring_spans_match_bruteforce(spark, docs, tmp_path_factory):
    """dedup_substring_spans coverage equals a brute-force python
    interval union over cross-doc duplicated 10-gram windows."""
    from rc_scanner_spark.queries import build_registry

    tmp = tmp_path_factory.mktemp("spans")
    rows = [(i, t, "en", "s", 0) for i, t in enumerate(docs)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in build_registry()["dedup_substring_spans"]
        .fn(spark, str(tmp))
        .collect()
    }
    K = 10
    toks = {i: re.findall(r"[a-z]+", t.lower()) for i, t, *_ in rows}
    wins = {
        i: [tuple(ts[j : j + K]) for j in range(len(ts) - K + 1)]
        for i, ts in toks.items()
    }
    from collections import defaultdict

    owners = defaultdict(set)
    for i, ws in wins.items():
        for w in ws:
            owners[w].add(i)
    for i, ts in toks.items():
        starts = [j for j, w in enumerate(wins[i]) if len(owners[w]) >= 2]
        covered = set()
        for s in starts:
            covered.update(range(s, s + K))
        assert out[i].n_tokens == len(ts)
        assert out[i].n_dup_windows == len(starts)
        assert out[i].covered_tokens == len(covered)


@given(
    pts=st.lists(
        st.tuples(st.integers(1, 6), st.integers(0, 5)),
        min_size=1,
        max_size=12,
    )
)
@SLOW
@pytest.mark.slow  # certification lane
def test_pareto_frontier_matches_bruteforce(spark, pts, tmp_path_factory):
    """select_pareto_frontier == brute-force dominance filter."""
    from rc_scanner_spark.queries import build_registry

    tmp = tmp_path_factory.mktemp("pareto")
    # build docs with n_tokens tokens of which nd are distinct:
    # nd distinct letters + (n-nd) repeats of the first letter.
    letters = "abcdefgh"
    rows = []
    for i, (n, extra) in enumerate(pts):
        nd = max(1, n - extra)
        if nd > n:
            nd = n
        toks = list(letters[:nd]) + [letters[0]] * (n - nd)
        rows.append((i, " ".join(toks), "en", "s", 0))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))
    got = {
        r.doc_id
        for r in build_registry()["select_pareto_frontier"].fn(spark, str(tmp)).collect()
    }
    # brute force on the same (tokens, q_ppm) pairs
    feats = {}
    for i, (n, extra) in enumerate(pts):
        nd = max(1, n - extra)
        if nd > n:
            nd = n
        feats[i] = (n, 1000000 * len(set(list(letters[:nd]) + [letters[0]] * (n - nd))) // n)
    want = set()
    for i, (t, q) in feats.items():
        dominated = any(
            (t2 <= t and q2 > q) or (t2 < t and q2 >= q)
            for j, (t2, q2) in feats.items()
            if j != i
        )
        if not dominated:
            want.add(i)
    assert got == want


@given(
    starts=st.lists(
        st.tuples(
            st.integers(0, 3),          # day offset
            st.integers(0, 23),         # hour
            st.integers(0, 59),         # minute
            st.integers(100, 104),      # user id (collisions likely)
        ),
        min_size=1,
        max_size=15,
    )
)
@SLOW
@pytest.mark.slow  # certification lane
def test_concurrency_matches_bruteforce(spark, starts, tmp_path_factory):
    """events_concurrency peak-per-day equals a brute-force minute
    sweep over the same session intervals (30-min TTL from each
    user's first event of the day, carry across midnight included)."""
    from collections import defaultdict
    from datetime import datetime, timedelta

    from rc_scanner_spark.queries import build_registry

    tmp = tmp_path_factory.mktemp("conc")
    rows = []
    for i, (d, h, m, u) in enumerate(starts):
        ts = f"2024-01-{d+1:02d} {h:02d}:{m:02d}:17"
        rows.append((i, ts, u, "view", 1.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp / "events.parquet"))
    got = {
        r.day: r.peak_concurrency
        for r in build_registry()["events_concurrency"].fn(spark, str(tmp)).collect()
    }
    # brute force: per (user, day) first event, truncate to minute,
    # interval [t, t+30min); count active at every minute boundary.
    firsts = {}
    for _, ts, u, *_ in rows:
        t = datetime.strptime(ts, "%Y-%m-%d %H:%M:%S")
        key = (u, t.date())
        if key not in firsts or t < firsts[key]:
            firsts[key] = t
    ivals = [
        (t.replace(second=0), t.replace(second=0) + timedelta(minutes=30))
        for t in firsts.values()
    ]
    lo = min(a for a, _ in ivals)
    hi = max(b for _, b in ivals)
    peak = defaultdict(int)
    t = lo.replace(hour=0, minute=0)
    while t <= hi:
        n = sum(1 for a, b in ivals if a <= t < b)
        day = t.strftime("%Y-%m-%d")
        peak[day] = max(peak[day], n)
        t += timedelta(minutes=1)
    want = {d: n for d, n in peak.items() if d in got}
    assert got == want


def test_bpe_and_ws_token_counts_engine_neutral_on_vertical_tab(spark, tmp_path):
    """review r7: Java and RE2 disagree on whether U+000B is \\s — both
    token legs of text_token_count must count identically on both
    engines for \\x0B-bearing text (BPE_RE and the ws tokenizer now
    spell the whitespace set explicitly)."""
    import duckdb

    from rc_scanner_spark.queries import build_registry
    from tests.conftest import write_fixture

    reg = build_registry()
    rows = [(1, "a\x0bb .c", "en", "A", 6)]
    write_fixture(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    [r] = reg["text_token_count"].fn(spark, str(tmp_path)).collect()
    # ws tokens: 'a', 'b', '.c' (vertical tab splits); bpe tokens:
    # 'a', 'b', '.', 'c' (the \x0B is whitespace, NOT a symbol token)
    assert (r.n_ws_tokens, r.n_bpe_tokens) == (3, 4)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    o = con.execute(reg["text_token_count"].sql).df()
    con.close()
    assert (int(o["n_ws_tokens"][0]), int(o["n_bpe_tokens"][0])) == (3, 4)


def test_sql_expr_twins_match_column_forms(spark):
    """r8: the selectExpr string twins (lang_id_sql / quality_score_sql
    / token_count_sql / fingerprint_sql) must produce IDENTICAL values
    to the Column helpers they shadow — on the trap inputs: \x0B,
    digit-adjacent stopwords, CJK, empty/whitespace-only, ties."""
    from rc_scanner_spark.operators.text import (
        fingerprint,
        fingerprint_sql,
        lang_id,
        lang_id_sql,
        quality_score,
        quality_score_sql,
        token_count,
        token_count_sql,
    )

    texts = [
        "the cat and the dog of a to",          # en markers
        "der hund und die katze ist",            # de markers
        "le chat et la maison est",              # fr markers
        "el perro y los gatos es",               # es markers
        "你好 world the",                         # CJK fast path beats en
        "a1 the2 of3",                           # digit adjacency: no \b match
        "a\x0bb .c the",                         # vertical tab
        "",                                      # empty
        "   \t\n  ",                             # whitespace only
        "the der le el y und est is a",          # cross-language tie food
        "Sentence. With, punct; lots: of! them?",
        None,
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    col_form = df.select(
        lang_id(F.col("text")).alias("l"),
        quality_score(F.col("text")).alias("q"),
        token_count(F.col("text")).alias("t"),
        fingerprint(F.col("text")).alias("f"),
    ).collect()
    sql_form = df.selectExpr(
        f"{lang_id_sql('text')} AS l",
        f"{quality_score_sql('text')} AS q",
        f"{token_count_sql('text')} AS t",
        f"{fingerprint_sql('text')} AS f",
    ).collect()
    assert col_form == sql_form


def test_text_quality_vertical_tab_parity(spark, tmp_path):
    """review r8 round 4: the twin's RE2 '\\s' missed U+000B, so a
    doc containing a vertical tab diverged avg_word_len between
    engines (Java-side translate strips it).  Both engines must now
    agree on the explicit class."""
    import duckdb

    from rc_scanner_spark.queries import build_registry

    spec = build_registry()["text_quality"]
    rows = [(1, "foo\x0bbar baz", "en", "A", 11)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    [r] = spec.fn(spark, str(tmp_path)).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    o = con.execute(spec.sql).df()
    con.close()
    # 3 letter-words, 9 non-space chars (\x0b stripped as whitespace)
    assert r.n_words == 3 and r.avg_word_len == 3.0
    assert float(o.avg_word_len[0]) == r.avg_word_len


def test_sample_weighted_mix_non_numeric_source(spark, tmp_path):
    """review r8 round 4: a non-'srcN' source must fall to the 250
    tier via try_cast on BOTH engines, not throw CAST_INVALID_INPUT
    under Spark ANSI."""
    import duckdb

    from rc_scanner_spark.queries import build_registry

    spec = build_registry()["sample_weighted_mix"]
    rows = [(i, "text", "en", s, 4) for i, s in enumerate(["web", "x", "src1"])]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rates = {
        r.source: r.rate_permille
        for r in spec.fn(spark, str(tmp_path)).collect()
    }
    # bucket < rate may drop rows; assert no crash and correct tiers
    # for the rows that survive (rate 1000 always survives)
    assert rates.get("src1") == 1000
    assert all(v == 250 for k, v in rates.items() if k != "src1")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    o = con.execute(spec.sql).df()
    con.close()
    orates = dict(zip(o.source, o.rate_permille))
    assert {k: int(v) for k, v in orates.items()} == rates


def test_cohens_kappa_degenerates_both_engines(spark, tmp_path):
    """review r8 round 4: (a) an empty confusion-matrix diagonal must
    give po = 0 (not a NULL empty-frame sum) on BOTH engines; (b) a
    constant pair of raters (pe = 1) leaves kappa NULL on BOTH
    engines instead of an ANSI divide-by-zero throw."""
    import duckdb
    import pandas as pd

    from rc_scanner_spark.queries import build_registry

    spec = build_registry()["agg_cohens_kappa"]

    def run(rows):
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>, label int"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{tmp_path}/embeddings.parquet"
        )
        from rc_scanner_spark.tables import invalidate_schema_cache

        invalidate_schema_cache(f"{tmp_path}/embeddings.parquet")
        [r] = spec.fn(spark, str(tmp_path)).collect()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{tmp_path}/embeddings.parquet/*.parquet')"
        )
        o = con.execute(spec.sql).df()
        con.close()
        return r, o

    # (a) all odd vec_ids -> rater b never equals a -> po = 0 exactly
    r, o = run([(2 * i + 1, [0.0] * 4, i % 2) for i in range(6)])
    assert r.po == 0.0 and float(o.po[0]) == 0.0
    assert r.kappa is not None and not pd.isna(o.kappa[0])
    # (b) constant label, all even ids -> po = pe = 1 -> kappa NULL
    r, o = run([(2 * i, [0.0] * 4, 3) for i in range(6)])
    assert (r.po, r.pe, r.kappa) == (1.0, 1.0, None)
    assert pd.isna(o.kappa[0]) and float(o.pe[0]) == 1.0


def test_pareto_frontier_wide_doc_no_overflow(spark, tmp_path):
    """review r8 round 5 (reproduced): a doc with >= 2148 distinct
    words overflowed int32 in 1000000 * nd under ANSI; nd now widens
    to BIGINT first.  q_ppm stays exact-integer."""
    from rc_scanner_spark.queries import build_registry

    import itertools
    import string

    # 2500 DISTINCT alphabetic tokens (words() extracts [a-z]+ runs,
    # so digit-suffixed tokens would all collapse to one word)
    text = " ".join(
        "".join(t)
        for t in itertools.islice(
            itertools.product(string.ascii_lowercase, repeat=3), 2500
        )
    )
    # the small doc has LOWER quality (repeated token), so it cannot
    # dominate the wide doc — the wide doc stays on the frontier and
    # its q_ppm (the overflowing expression) reaches the output
    rows = [(1, text, "en", "A", len(text)), (2, "dup dup", "en", "A", 7)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {
        r.doc_id: r.q_ppm
        for r in build_registry()["select_pareto_frontier"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    # doc 1: 2500 distinct tokens of 2500 -> ratio 1.0 -> 1_000_000
    assert out[1] == 1_000_000
