"""Schemaless documents on columnar storage: spine columns + JSON overflow.

The reference's tables are schemaless by default — any record can carry any
fields (SURVEY §1.3).  Columnar parquet wants a fixed schema, so the
engine's representation (SURVEY §1.4 row) is:

  * a SPINE of materialized columns for declared/observed fields (typed,
    pushdown-friendly, codegen'd);
  * an ``_overflow`` JSON-string column holding the dynamic remainder
    (the VariantType stand-in — this image's Spark build predates usable
    Variant writer support);
  * ``None`` (absent) vs ``Null`` (explicit) survives the round trip:
    absent keys simply don't appear in the overflow JSON, explicit nulls do.

``observe_schema`` implements merge-on-write: scan a batch of raw documents,
promote fields seen in ≥ threshold share of records into the spine
(the "observed fields" policy), overflow the rest.
"""

from __future__ import annotations

import json
from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from surrealdb_spark.values import local_frame

OVERFLOW = "_overflow"

_TYPE_MAP = {bool: "boolean", int: "bigint", float: "double", str: "string"}


def observe_schema(docs: list[dict], promote_share: float = 0.5) -> dict[str, str]:
    """Field-frequency scan → spine schema {field: spark_type}.

    A field is promoted when present (non-absent) in ≥ promote_share of the
    docs and its non-null values agree on a scalar type; mixed/nested/rare
    fields stay in the overflow.
    """
    n = len(docs)
    presence: Counter = Counter()
    types: dict[str, set] = {}
    for d in docs:
        for k, v in d.items():
            presence[k] += 1
            if v is not None:
                types.setdefault(k, set()).add(type(v))
    spine: dict[str, str] = {}
    for k, cnt in presence.items():
        if cnt / n < promote_share:
            continue
        ts = types.get(k, set())
        if len(ts) == 1 and next(iter(ts)) in _TYPE_MAP:
            spine[k] = _TYPE_MAP[next(iter(ts))]
        elif ts <= {int, float} and ts:
            spine[k] = "double"  # int|float union → widest (Number semantics)
    return spine


def to_spine_df(spark: SparkSession, docs: list[dict], spine: dict[str, str]) -> DataFrame:
    """Encode raw documents as spine columns + overflow JSON."""
    rows = []
    for d in docs:
        row = {}
        rest = {}
        for k, v in d.items():
            if k in spine:
                row[k] = float(v) if spine[k] == "double" and v is not None else v
            else:
                rest[k] = v
        row[OVERFLOW] = json.dumps(rest, sort_keys=True) if rest else None
        rows.append(row)
    schema = ", ".join([f"`{k}` {t}" for k, t in spine.items()] + [f"`{OVERFLOW}` string"])
    cols = list(spine) + [OVERFLOW]
    return local_frame(spark, [tuple(r.get(k) for k in cols) for r in rows], schema)


def dynamic_field(df: DataFrame, name: str, dtype: str = "string") -> F.Column:
    """Read field ``name`` wherever it lives: spine column or overflow JSON.

    Returns NULL for absent; JSON null also maps to SQL NULL (the
    None-vs-Null distinction is preserved in the stored JSON and retrievable
    with dynamic_field_state)."""
    if name in df.columns:
        return F.col(name).cast(dtype)
    return F.get_json_object(F.col(OVERFLOW), f"$.{name}").cast(dtype)


def dynamic_field_state(df: DataFrame, name: str) -> F.Column:
    """'none' (absent) / 'null' (explicit null) / 'value' — the tri-state
    that types/src/value distinguishes (None ≠ Null)."""
    if name in df.columns:
        return F.when(F.col(name).isNull(), "null").otherwise("value")
    has_key = F.col(OVERFLOW).rlike(f'"{name}"\\s*:')
    val = F.get_json_object(F.col(OVERFLOW), f"$.{name}")
    return (
        F.when(~F.coalesce(has_key, F.lit(False)), "none")
        .when(val.isNull(), "null")
        .otherwise("value")
    )


def merge_overflow_into_spine(df: DataFrame, field: str, dtype: str) -> DataFrame:
    """Promote an overflow field into the spine (schema evolution step):
    materialize the column and strip the key from the JSON remainder."""

    out_schema = ", ".join(
        [f"`{c}` {t}" for c, t in df.dtypes if c != OVERFLOW]
        + [f"`{field}` {dtype}", f"`{OVERFLOW}` string"]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals, rests = [], []
            for s in pdf[OVERFLOW]:
                d = json.loads(s) if s else {}
                vals.append(d.pop(field, None))
                rests.append(json.dumps(d, sort_keys=True) if d else None)
            pdf = pdf.drop(columns=[OVERFLOW])
            pdf[field] = vals
            pdf[OVERFLOW] = rests
            yield pdf

    return df.mapInPandas(op, out_schema)
