"""Round-11 batch 45: hash-checkable portable twins for the four
rows-only mechanisms that had none.

The driver can only rows-check a query whose values depend on an
engine-private hash (xxhash64) or a Python-only library (zlib, eigh).
Each twin below re-runs the SAME distributed mechanism — banding +
Hamming verify, greedy bin packing via ``applyInPandas``, the
Arrow ``mapInPandas`` boundary, the two-level gram/merge reduction —
with an engine-portable payload, so every mechanism in the registry
has a full value-hash driver row (VERDICT r10 item 4):

* ``multimodal_phash_portable`` — the banded-Hamming candidate
  mechanism of ``multimodal_phash_neardup`` over a 60-bit md5 text
  fingerprint both engines compute identically.
* ``pack_bins_nextfit_portable`` — greedy sequential packing through
  the same per-group ``applyInPandas`` escape hatch as
  ``pack_bins_bfd``; next-fit-decreasing is replayable in SQL as a
  recursive CTE (BFD's open-bin search is not).
* ``text_bytes_portable`` — the identical Arrow ``mapInPandas``
  plumbing as ``text_compression_ratio`` (schema, batching, NULL
  handling) with an octet-length payload instead of zlib.
* ``embed_cov_trace_portable`` — the identical two-level
  gram-partial/merge reduction as ``embed_pca_variance`` (bounded
  driver pull), surfacing the SQL-checkable part of the spectrum:
  the per-dimension variances and their trace (the explained-variance
  denominator), leaving only the eigh rotation unverified.

Reference scope note: the reference engine (scanner.py:120-175) has
no analytics surface; extends SURVEY.md §2.B's LLM-pipeline
categories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from . import QuerySpec, load_tuned

_t = load_tuned


# --- multimodal_phash_portable ---------------------------------------

_FP_BITS = 60  # 15 hex chars of md5 -> fits signed 64-bit on both engines
_FP_BANDS = 4  # 4 x 15-bit bands, the phash_candidate_pairs recipe


def _fp_col() -> F.Column:
    # Fingerprint of the 64-char text PREFIX: the testdata corpus has
    # no byte-exact duplicates but ~20 shared-prefix groups per SF, so
    # prefix identity gives the banding real hamming-0 collisions to
    # find (a whole-text fingerprint returned an empty frame — a
    # vacuous hash row).  conv() returns a string; 15 hex chars = 60
    # bits, so the cast can't overflow and both engines see the same
    # non-negative long.
    return md5_long(F.substring(F.col("text"), 1, 64))


def q_multimodal_phash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-Hamming near-dup candidates (the
    ``phash_candidate_pairs`` mechanism, operators/multimodal.py) over
    a PORTABLE 60-bit fingerprint: md5 of the raw text instead of the
    xxhash64-backed fake-decode phash.  Identical plan shape — explode
    4 x 15-bit bands, band equi-join (never all-pairs), bit_count(xor)
    verify — with values DuckDB reproduces exactly, so the banding +
    collision + verification machinery gets a full hash row.
    Shared-prefix duplicates collide on every band at Hamming 0; the
    <= 12 gate and DISTINCT mirror the production form."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", _fp_col().alias("fp")
    )
    bands = d.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        (
                            F.shiftrightunsigned(F.col("fp"), 15 * i)
                            .bitwiseAND(F.lit(0x7FFF))
                        ).alias("val"),
                    )
                    for i in range(_FP_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "fp", "bv.band", "bv.val")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(
                F.col("a.fp").bitwiseXOR(F.col("b.fp"))
            ).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= 12)
        .distinct()
        .orderBy("id_a", "id_b")
    )


SQL_MULTIMODAL_PHASH_PORTABLE = """
WITH fp AS (
  SELECT doc_id,
         ('0x' || substr(md5(substr(text, 1, 64)), 1, 15))::BIGINT AS fp
  FROM documents
),
bands AS (
  SELECT doc_id, fp, b.band, (fp >> (15 * b.band)) & 32767 AS val
  FROM fp, (SELECT unnest(range(0, 4)) AS band) b
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.fp, b.fp))::BIGINT AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= 12
ORDER BY id_a, id_b
"""


# --- pack_bins_nextfit_portable ---------------------------------------

_NF_BUDGET = 512
_NF_TOPN = 50  # bounds the oracle's recursion depth per source


def q_pack_bins_nextfit_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit-decreasing packing into 512-token bins over the
    50 largest docs per source — the portable twin of
    ``pack_bins_bfd``: the same per-group ``applyInPandas`` sequential
    escape hatch (state = one open-bin fill, bounded per group), but
    next-fit's single open bin replays in SQL as a recursive CTE
    (BFD's best-fit search over ALL open bins does not).  Items are
    processed in (n_tokens DESC, doc_id) order; an oversized item
    opens its own bin.  The top-50 cut keeps the oracle's recursion
    depth bounded; the Spark path is identical at any N."""
    import pandas as pd

    from ..operators.text import token_count

    d = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id")
    )
    items = d.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _NF_TOPN
    )

    def next_fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn").reset_index(drop=True)
        bins, fills = [], 0
        bin_id = 0
        for n in pdf["n_tokens"]:
            if bin_id == 0 or fills + n > _NF_BUDGET:
                bin_id += 1
                fills = int(n)
            else:
                fills += int(n)
            bins.append(bin_id)
        pdf["bin"] = pd.Series(bins, dtype="int64")
        return pdf

    return (
        items.groupBy("source")
        .applyInPandas(
            next_fit,
            schema="source string, doc_id long, n_tokens long, rn integer, bin long",
        )
        .select("source", "doc_id", "n_tokens", F.col("rn").cast("long").alias("rn"), "bin")
        .orderBy("source", "rn")
    )


SQL_PACK_BINS_NEXTFIT_PORTABLE = f"""
WITH RECURSIVE items AS (
  SELECT source, doc_id, n_tokens,
         row_number() OVER (
           PARTITION BY source ORDER BY n_tokens DESC, doc_id
         ) AS rn
  FROM (
    SELECT source, doc_id,
           CAST(len(regexp_extract_all(text, '[^ \\t\\n\\x0B\\f\\r]+')) AS BIGINT)
               AS n_tokens
    FROM documents
  )
  QUALIFY rn <= {_NF_TOPN}
),
pack AS (
  SELECT source, doc_id, n_tokens, rn,
         1::BIGINT AS bin, n_tokens AS fill
  FROM items WHERE rn = 1
  UNION ALL
  SELECT i.source, i.doc_id, i.n_tokens, i.rn,
         CASE WHEN p.fill + i.n_tokens <= {_NF_BUDGET}
              THEN p.bin ELSE p.bin + 1 END,
         CASE WHEN p.fill + i.n_tokens <= {_NF_BUDGET}
              THEN p.fill + i.n_tokens ELSE i.n_tokens END
  FROM pack p JOIN items i ON i.source = p.source AND i.rn = p.rn + 1
)
SELECT source, doc_id, n_tokens, CAST(rn AS BIGINT) AS rn, bin
FROM pack
ORDER BY source, rn
"""


# --- text_bytes_portable ----------------------------------------------


def q_text_bytes_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow ``mapInPandas`` boundary of ``text_compression_ratio``
    with a portable payload: utf-8 byte length, code-point count, and
    bytes-per-char — DuckDB's strlen/length compute the identical
    values, so the batching / schema / NULL plumbing of the Python
    codec path gets a full hash row (zlib itself stays pytest-verified
    against direct compression)."""
    import math

    import pandas as pd

    d = _t(spark, sf_dir, "documents")

    def op(batches):
        for pdf in batches:
            raw = pdf["text"].map(lambda t: len((t or "").encode("utf-8")))
            chars = pdf["text"].map(lambda t: len(t or ""))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_bytes": raw,
                    "n_chars": chars,
                    # floor(x*1e4+0.5)/1e4 (the repo grid idiom), NOT
                    # Python round(): half-to-even vs DuckDB's
                    # half-away diverges on exact ties like 33/32
                    # (review r11)
                    "bytes_per_char": [
                        math.floor(r / c * 10000 + 0.5) / 10000.0 if c else 0.0
                        for r, c in zip(raw, chars)
                    ],
                }
            )

    return (
        d.select("doc_id", "text")
        .mapInPandas(
            op,
            schema="doc_id long, raw_bytes long, n_chars long, "
            "bytes_per_char double",
        )
        .orderBy("doc_id")
    )


SQL_TEXT_BYTES_PORTABLE = """
SELECT doc_id,
       strlen(coalesce(text, ''))::BIGINT AS raw_bytes,
       length(coalesce(text, ''))::BIGINT AS n_chars,
       CASE WHEN length(coalesce(text, '')) > 0
            THEN floor(strlen(coalesce(text, ''))::DOUBLE
                       / length(coalesce(text, '')) * 10000 + 0.5) / 10000.0
            ELSE 0.0 END AS bytes_per_char
FROM documents
ORDER BY doc_id
"""


# --- embed_cov_trace_portable -----------------------------------------

_COV_DIM = 64  # embeddings.parquet column width (TESTDATA.md)


def q_embed_cov_trace_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension population variances of the embedding matrix via
    the SAME two-level gram-partial/merge reduction as
    ``embed_pca_variance`` (one 64x64 float64 partial per partition,
    <= 32 merged partials pulled to the driver at ANY partition
    count), surfacing the SQL-checkable diagonal: var_pop per dim —
    the explained-variance denominator (trace) is their sum.  Only the
    driver-side eigh rotation remains rows-only.  Snapped to a 1e-6
    floor grid on BOTH engines (never Python round(): half-even vs
    DuckDB half-away diverges on ties); both engines fold float32
    inputs in float64, so the summation-order disagreement is ~1e-12
    relative."""
    import numpy as np
    import pandas as pd

    d = _COV_DIM
    emb = _t(spark, sf_dir, "embeddings").select("embedding")

    def gram_partial(batches):
        G = np.zeros(d)  # diagonal of X^T X is all the twin needs
        s = np.zeros(d)
        n = 0
        for pdf in batches:
            M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            G += (M * M).sum(axis=0)
            s += M.sum(axis=0)
            n += M.shape[0]
        if n:
            yield pd.DataFrame(
                {"g": [G.tolist()], "s": [s.tolist()], "n": [n]}
            )

    partial_schema = "g array<double>, s array<double>, n long"

    def gram_merge(pdf: pd.DataFrame) -> pd.DataFrame:
        Gm = np.zeros(d)
        sm = np.zeros(d)
        nm = 0
        for g_arr, s_arr, cnt in zip(pdf["g"], pdf["s"], pdf["n"]):
            Gm += np.asarray(g_arr, dtype=np.float64)
            sm += np.asarray(s_arr, dtype=np.float64)
            nm += int(cnt)
        return pd.DataFrame({"g": [Gm.tolist()], "s": [sm.tolist()], "n": [nm]})

    parts = (
        emb.mapInPandas(gram_partial, partial_schema)
        .groupBy(F.pmod(F.spark_partition_id(), F.lit(32)).alias("b"))
        .applyInPandas(gram_merge, partial_schema)
        .collect()  # bounded: <= 32 merged partials at ANY partition count
    )
    G = np.zeros(d)
    s = np.zeros(d)
    n = 0
    for row in parts:
        G += np.asarray(row["g"], dtype=np.float64)
        s += np.asarray(row["s"], dtype=np.float64)
        n += int(row["n"])
    mean = s / n
    var = G / n - mean * mean
    # floor(x*1e6+0.5)/1e6 (the repo grid idiom) instead of Python
    # round(): half-to-even vs DuckDB's half-away diverges on exact
    # ties (review r11).  The floor form also normalizes a constant
    # dimension's -1e-17-ish cancellation noise to exactly +0.0.
    import math

    return spark.createDataFrame(
        [
            (int(j + 1), math.floor(v * 1e6 + 0.5) / 1e6)
            for j, v in enumerate(var)
        ],
        "dim long, var_pop double",
    ).orderBy("dim")


SQL_EMBED_COV_TRACE_PORTABLE = f"""
SELECT dim::BIGINT AS dim, floor(var_pop(val) * 1e6 + 0.5) / 1e6 AS var_pop
FROM (
  SELECT unnest(embedding::DOUBLE[]) AS val,
         unnest(range(1, {_COV_DIM + 1})) AS dim
  FROM embeddings
)
GROUP BY dim
ORDER BY dim
"""


QUERIES: dict[str, QuerySpec] = {
    "multimodal_phash_portable": QuerySpec(
        q_multimodal_phash_portable, SQL_MULTIMODAL_PHASH_PORTABLE
    ),
    "pack_bins_nextfit_portable": QuerySpec(
        q_pack_bins_nextfit_portable, SQL_PACK_BINS_NEXTFIT_PORTABLE
    ),
    "text_bytes_portable": QuerySpec(
        q_text_bytes_portable, SQL_TEXT_BYTES_PORTABLE
    ),
    "embed_cov_trace_portable": QuerySpec(
        q_embed_cov_trace_portable, SQL_EMBED_COV_TRACE_PORTABLE
    ),
}
