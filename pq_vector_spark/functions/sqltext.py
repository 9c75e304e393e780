"""SQL-text fragments shared by every expression built as one parsed SQL string.

Each Column operation is one py4j round trip at plan construction: a
32-hash ``minhash_signature`` is ~500 of them, a 128-dim unrolled distance
chain ~900, and a Column-built ``bm25_topk`` ~10 eager re-analyses of a
growing plan. So the hot featurizers (shingles, shingle hashes, MinHash
signatures, LSH band keys, token n-grams), the rankers (``bm25_topk``,
``rrf_fuse``, ``hybrid_topk``) and the unrolled literal-query distance
chain are rendered as SQL text and parsed once (``F.expr`` / ``spark.sql``).

The condition: their column arguments are column NAMES, which quote
straight into SQL text. A Column argument raises ``TypeError``; a Column
cannot be rendered back to SQL that re-parses.
"""

from __future__ import annotations

import math


def ident(col, owner: str) -> str:
    """Backquoted SQL identifier for the column name ``col``."""
    if not isinstance(col, str):
        raise TypeError(
            f"{owner}() takes column names; got {type(col).__name__}, "
            "pass a column name (str) instead"
        )
    return "`" + col.replace("`", "``") + "`"


def dlit(x) -> str:
    """Exact SQL DOUBLE literal: repr() round-trips IEEE doubles and the D
    suffix keeps the parser on DOUBLE (a bare decimal parses as DECIMAL).
    NaN and ±Infinity have no literal syntax and render as casts, which
    constant folding turns into the same Literal."""
    x = float(x)
    if math.isfinite(x):
        return repr(x) + "D"
    return f"CAST('{x!r}' AS DOUBLE)"


def tokens_sql(ref: str) -> str:
    """SQL twin of ``functions.text.tokens``: split(lower(trim(c)), '\\s+')."""
    return f"split(lower(trim({ref})), '\\\\s+')"
