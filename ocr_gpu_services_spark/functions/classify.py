"""Keyword document classification as pure built-in expressions (operator A1).

Exact Spark twin of core/classify.py, which mirrors
/root/reference/src/infrastructure/services/classification_service.py:29-43.
The order semantics ("first type with >= 1 hit wins", dict insertion order)
are encoded as an ORDERED CASE WHEN chain — NOT a groupBy argmax — per
SURVEY.md §7.3 item 5.  One SQL definition, ``classify_case_sql``, serves
Spark (through ``F.expr``) and the DuckDB oracle alike.  Everything stays
inside whole-stage codegen: no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.classify import DOCUMENT_KEYWORDS


def with_classification(df: DataFrame,
                        text_col: str = "extracted_text") -> DataFrame:
    dt, conf = classify_case_sql(text_col)
    return df.withColumns({"doc_type": F.expr(dt),
                           "doc_type_conf": F.expr(conf)})


def classify_case_sql(text_expr: str) -> tuple[str, str]:
    """(type_sql, conf_sql): the (doc_type, doc_type_conf) pair as ANSI SQL
    that Spark and DuckDB both parse, generated from DOCUMENT_KEYWORDS.
    """
    def hits(kws):
        return " + ".join(
            f"(CASE WHEN contains(lower(coalesce({text_expr}, '')), '{kw.lower()}')"
            f" THEN 1 ELSE 0 END)" for kw in kws)

    type_whens, conf_whens = [], []
    for name, kws in DOCUMENT_KEYWORDS:
        h = hits(kws)
        type_whens.append(f"WHEN ({h}) > 0 THEN '{name}'")
        conf_whens.append(
            f"WHEN ({h}) > 0 THEN CAST(({h}) AS DOUBLE) / {float(len(kws))}")
    type_sql = "CASE " + " ".join(type_whens) + " ELSE 'unknown' END"
    conf_sql = "CASE " + " ".join(conf_whens) + " ELSE 0.0 END"
    return type_sql, conf_sql
