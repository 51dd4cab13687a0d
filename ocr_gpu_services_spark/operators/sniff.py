"""Content-type sniff as a built-in column expression (operator S2).

Spark twin of ``core/sniff.sniff_content_type``, generated from the same
``SIGNATURES`` table: each byte clause becomes a
``hex(substring(payload, offset + 1, len))`` comparison, each family one
``when`` branch.  Routing thus stays entirely JVM-side (whole-stage
codegen) with no magic bytes restated here.  The batch extraction job
sniffs in the Python kernel instead; this expression serves plans that
route before any Python runs (streaming ingest).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..core.sniff import CT_HTML, CT_TEXT, CT_UNKNOWN, SIGNATURES


def _clause_col(h: Column, off: int, alts: tuple[bytes, ...]) -> Column:
    """The bytes at ``off`` start with one of ``alts`` (a payload too
    short for the clause yields a shorter substring, so no match)."""
    return reduce(operator.or_,
                  (F.hex(F.substring(h, off + 1, len(m))) == m.hex().upper()
                   for m in alts))


def content_type_col(html: str = "html", text: str = "text") -> Column:
    h = F.col(html)
    empty = h.isNull() | (F.octet_length(h) == 0)
    col = (F.when(empty & F.col(text).isNotNull(), F.lit(CT_TEXT))
            .when(empty, F.lit(CT_UNKNOWN)))
    for _family, clauses, ct in SIGNATURES:
        col = col.when(reduce(operator.and_,
                              (_clause_col(h, off, alts)
                               for off, alts in clauses)),
                       F.lit(ct))
    return col.otherwise(F.lit(CT_HTML))
