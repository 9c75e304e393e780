"""Vector-aware SQL entry point — the PySpark stand-in for the reference's
physical-optimizer rule (reference: src/df_vector/physical.rs:20-229).

PySpark cannot inject physical plan rules (that needs a JVM
``SparkSessionExtensions`` jar — documented upgrade path, SURVEY §7/M4), so
``pq_sql`` takes one route for every query:

1. ``expand_vector_functions`` inlines ``array_distance`` / ``squared_l2`` /
   ``dot_product`` / ``cosine_similarity`` calls as their native
   higher-order-function folds (Spark 4 forbids SQL scalar UDFs inside
   Sort) and turns bracket vector literals into ``array(...)``. Quoted text
   is never rewritten.
2. ``spark.sql`` analyzes and optimizes the expanded text.
3. ``plans/intercept.try_intercept_topk`` matches the optimized plan and
   reroutes the top-k-by-distance shape over a registered indexed table to
   the IVF probe, with the reference's guard list (physical.rs:134-177).
   A decline keeps the brute-force DataFrame — the correct answer — and
   ``last_decline_reason()`` names the guard that fired.
"""

from __future__ import annotations

import re
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession

from pq_vector_spark.functions.distance import SQL_FOLDS
from pq_vector_spark.plans import intercept
from pq_vector_spark.session import VectorTopKOptions


def _mask_quoted(s: str) -> str:
    """Replace the CONTENTS of SQL string/identifier literals with ``_`` so
    structural regexes can't be fooled by quoted text. Quote chars stay and
    lengths are preserved, so match spans map 1:1 back onto the original
    text. Handles '' escapes; an unterminated quote masks to the end."""
    out = list(s)
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch in ("'", '"'):
            j = i + 1
            while j < n:
                if s[j] == ch:
                    if ch == "'" and j + 1 < n and s[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            for k in range(i + 1, min(j, n)):
                out[k] = "_"
            i = j + 1
        else:
            i += 1
    return "".join(out)


# tables registered as "indexed": name -> qualified path of the indexed layout
_INDEXED_TABLES: Dict[str, str] = {}


def register_indexed_table(spark: SparkSession, name: str, path: str) -> None:
    """Make ``name`` queryable in SQL *and* eligible for the indexed rewrite
    (≙ the reference wiring its rule into the session, session.rs:24-35)."""
    spark.read.parquet(path).drop("_pq_cluster_id").createOrReplaceTempView(name)
    _INDEXED_TABLES[name] = intercept._normalize_path(path, spark)


# all-numeric [..] group NOT preceded by identifier/)/] (those are indexing)
_BRACKET_VEC_RE = re.compile(
    r"(?<![\w\)\]])\[\s*(-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"
    r"(?:\s*,\s*-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)*)\s*\]"
)


def _expand_calls(out: str, masked: str, name: str) -> tuple:
    """Inline every two-argument ``name(a, b)`` call outside quotes.
    ``masked`` is the quote-masked copy of ``out``; both get the same splice,
    so their offsets stay aligned."""
    call, pos = re.compile(rf"\b{name}\s*\(", re.IGNORECASE), 0
    while True:
        m = call.search(masked, pos)
        if not m:
            return out, masked
        depth, i, commas = 1, m.end(), []
        while i < len(masked) and depth:
            ch = masked[i]
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif ch == "," and depth == 1:
                commas.append(i)
            i += 1
        if depth or len(commas) != 1:
            pos = m.end()  # not a two-argument call: leave it to Spark
            continue
        a, b = slice(m.end(), commas[0]), slice(commas[0] + 1, i - 1)
        fold = SQL_FOLDS[name]
        out = out[: m.start()] + fold.format(a=out[a].strip(), b=out[b].strip()) + out[i:]
        masked = masked[: m.start()] + fold.format(a=masked[a].strip(), b=masked[b].strip()) + masked[i:]


def expand_vector_functions(query: str) -> str:
    """Rewrite the vector functions into native Catalyst higher-order-function
    SQL (JVM codegen, no Python workers).

    ``[1.0, 2.0]`` becomes ``array(1.0, 2.0)``: DataFusion/DuckDB accept the
    bracket form (the reference's tests use it, src/df_vector/tests.rs:79)
    but Spark SQL only parses ``array(...)``. Only all-numeric bracket groups
    are rewritten, so indexing like ``m['k']`` or ``a[i]`` is untouched.
    Matches are found on a quote-masked copy and spliced into the original,
    so string literals come back unchanged."""
    masked = _mask_quoted(query)
    pieces, masked_pieces, last = [], [], 0
    for m in _BRACKET_VEC_RE.finditer(masked):
        vec = f"array({m.group(1)})"
        pieces += [query[last : m.start()], vec]
        masked_pieces += [masked[last : m.start()], vec]
        last = m.end()
    out = "".join(pieces) + query[last:]
    masked = "".join(masked_pieces) + masked[last:]
    for name in SQL_FOLDS:
        out, masked = _expand_calls(out, masked, name)
    return out


def pq_sql(
    spark: SparkSession,
    query: str,
    options: Optional[VectorTopKOptions] = None,
    observation=None,
) -> DataFrame:
    """Run SQL; reroute the one top-k-by-distance shape to the IVF path.

    The query is expanded and planned by ``spark.sql``; the plan-level
    interceptor then either returns the IVF-probe DataFrame or declines, in
    which case the brute-force DataFrame is returned unchanged — a decline is
    never an error, exactly like the reference's rule declining to fire
    (src/df_vector/physical.rs:134-177).
    """
    df = spark.sql(expand_vector_functions(query))
    hit = intercept.try_intercept_topk(spark, df, options=options, observation=observation)
    return df if hit is None else hit
