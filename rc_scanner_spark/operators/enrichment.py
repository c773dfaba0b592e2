"""Enrichment-lookup operator: the Spark form of the reference's
per-event HTTP point queries (get_editcount scanner.py:199-218,
get_text scanner.py:178-196).

The preferred form is a dimension-table join (scanner.scan does that).
This module is the *lookup-function* form for when no dimension table
exists: an Arrow-batched ``mapInPandas`` stage that

- deduplicates keys within each batch (each user/revid fetched once
  per batch — the reference re-fetches per event);
- calls a pluggable ``fetch(keys) -> dict`` (pooled HTTP session in
  production; injected fake in tests — no network in this
  environment);
- maps failures to NULL instead of failing the query (C1 semantics:
  QueryRaceCondition => skip, scanner.py:78-81); callers filter
  ``isNotNull`` to drop, or keep for side-channel inspection.

Placement matters: Catalyst does not cost Python stages, so callers
must put this AFTER the cheap filters, like the reference's manual
cheap-before-expensive order (scanner.py:131-141, SURVEY.md §4.1).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame


def lookup_enrich(
    df: DataFrame,
    key_col: str,
    out_col: str,
    out_type: str,
    fetch: Callable[[list[Any]], dict[Any, Any]],
) -> DataFrame:
    """Append ``out_col`` by batch-looking-up ``key_col``.

    ``fetch`` receives the batch's *distinct* keys and returns
    {key: value}; missing keys and raised per-batch exceptions become
    NULL (never a query failure).
    """
    if out_col in df.columns:
        raise ValueError(f"out_col {out_col!r} already exists in the frame")
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    # build the schema from the real StructType (a hand-joined DDL
    # string breaks on names needing backticks); a FRESH StructType —
    # StructType.add mutates the frame's cached schema in place
    schema = StructType(
        list(df.schema.fields)
        + [StructField(out_col, _parse_datatype_string(out_type))]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw_keys = pdf[key_col].dropna().unique().tolist()
            # A nullable integer column reaches pandas as float64:
            # fetching with 1.0 instead of 1 malforms every lookup
            # (e.g. 'users/1.0/...' URLs) and C1 would hide the 404s
            # as NULLs.  Normalize integral floats back to int for the
            # fetch, and map results through the raw key so assignment
            # still lines up with the column values.
            norm = {
                k: (int(k) if isinstance(k, float) and k.is_integer() else k)
                for k in raw_keys
            }
            try:
                values = fetch(list(dict.fromkeys(norm.values()))) or {}
            except Exception:
                values = {}
            by_raw = {raw: values.get(nk) for raw, nk in norm.items()}
            yield pdf.assign(**{out_col: pdf[key_col].map(by_raw)})

    return df.mapInPandas(op, schema=schema)
