"""SQL-callable compat surface for the reference's registered UDF/UDAF names.

The reference's SQL-shaped job registers four functions and calls them BY
NAME inside SQL text (reference: src/main/java/com/soto/spark/product/
AreaTop3ProductSpark.java:64-73, used in SQL :309-357, :446-510). A user
switching engines carries that SQL text with them, so the names must
resolve here too:

- ``concat_long_string(v1, v2, sep)``  (ConcatLongStringUDF.java:9-17)
- ``group_concat_distinct(expr)``      (GroupConcatDistinctUDAF.java:18-124)
- ``random_prefix(val, bound)``        (RandomPrefixUDF.java:7-15)
- ``remove_random_prefix(val)``        (RemoveRandomPrefixUDF.java:5-14)

These are COMPAT shims, not the engine's native path: every native query
uses the built-in equivalents (concat_ws, sorted collect_set, AQE skew
handling — SURVEY §2.12 U1-U4), which stay in whole-stage codegen. The
scalar shims are Arrow-vectorized pandas UDFs (never row-at-a-time
Python), so carried-over SQL is correct and merely slower, not
pathological. The UDAF is different: Spark cannot mix a Python grouped-agg
UDF with built-in aggregates in one GROUP BY (INVALID_PANDAS_UDF_PLACEMENT)
— and the reference's SQL does exactly that (count(*) + the UDAF,
:350-357) — so ``group_concat_distinct`` is handled by a SQL REWRITE to
``concat_ws(',', array_sort(collect_set(...)))`` in ``Engine.sql``, which
is both compatible and faster (pure JVM).

Semantics notes (deliberate divergences, SURVEY §7 item 3):
- group_concat_distinct dedups by EXACT value and returns a sorted list;
  the reference dedups by substring containment in arrival order — a latent
  bug ("1:a" swallows "11:a") and nondeterministic under shuffle.
- random_prefix honors its bound argument; the reference ignores it and
  hardcodes 10.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

REGISTERED = (
    "concat_long_string",
    "group_concat_distinct",
    "random_prefix",
    "remove_random_prefix",
)


def register_reference_udfs(spark: SparkSession) -> tuple[str, ...]:
    """Register the reference's SQL function names on ``spark``; returns the
    registered names. Idempotent."""

    @pandas_udf("string")
    def concat_long_string(
        v1: pd.Series, v2: pd.Series, sep: pd.Series
    ) -> pd.Series:
        return v1.astype("Int64").astype(str) + sep + v2.astype(str)

    @pandas_udf("string")
    def random_prefix(val: pd.Series, bound: pd.Series) -> pd.Series:
        import numpy as np

        n = np.random.randint(0, bound.to_numpy(), size=len(val))
        return pd.Series(n.astype(str)) + "_" + val.astype(str)

    @pandas_udf("string")
    def remove_random_prefix(val: pd.Series) -> pd.Series:
        return val.astype(str).str.split("_", n=1).str[-1]

    spark.udf.register("concat_long_string", concat_long_string)
    # The whole point of the prefix is a different value per row: mark the
    # UDF nondeterministic BEFORE registration — flipping the handle after
    # spark.udf.register has no effect on the already-registered JVM
    # function, and Catalyst would be free to collapse/re-evaluate it.
    spark.udf.register("random_prefix", random_prefix.asNondeterministic())
    spark.udf.register("remove_random_prefix", remove_random_prefix)
    return REGISTERED


def group_concat_distinct(col: Column | str) -> Column:
    """Built-in form of the reference's ``group_concat_distinct``: the
    distinct non-null values, sorted, comma-joined. The Column twin of the
    SQL text ``rewrite_reference_sql`` emits."""
    return F.concat_ws(",", F.array_sort(F.collect_set(col)))


def rewrite_reference_sql(text: str) -> str:
    """Rewrite ``group_concat_distinct(expr)`` calls to the built-in form
    ``concat_ws(',', array_sort(collect_set(expr)))``.

    Paren-matching respects nesting and single-quoted strings, so the
    argument may itself be a function call (the reference always passes
    ``concat_long_string(...)``). Names are matched case-insensitively like
    SQL identifiers.
    """
    name = "group_concat_distinct"
    out = []
    i, lower = 0, text.lower()
    while True:
        j = lower.find(name, i)
        if j < 0:
            out.append(text[i:])
            return "".join(out)
        # must be a standalone identifier followed by '('
        before_ok = j == 0 or not (lower[j - 1].isalnum() or lower[j - 1] == "_")
        k = j + len(name)
        while k < len(text) and text[k].isspace():
            k += 1
        if not before_ok or k >= len(text) or text[k] != "(":
            out.append(text[i : j + len(name)])
            i = j + len(name)
            continue
        # scan the balanced argument list
        depth, p, in_str = 0, k, False
        while p < len(text):
            c = text[p]
            if in_str:
                in_str = c != "'"
            elif c == "'":
                in_str = True
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            p += 1
        if depth != 0:
            raise ValueError(f"unbalanced parens after {name} at offset {j}")
        arg = text[k + 1 : p]
        out.append(text[i:j])
        out.append(f"concat_ws(',', array_sort(collect_set({arg})))")
        i = p + 1


def register_reference_udtfs(spark: SparkSession) -> tuple[str, ...]:
    """Register the Python UDTF (table function) surface — Spark 4's third
    UDx kind beside UDF/UDAF. ``explode_packed(packed, pair_sep, kv_sep)``
    unpacks the reference's packed ``k=v|k=v`` session strings
    (UserVisitSessionAnalyzeSpark.java builds these with
    ``concat_long_string``) into (key, value) rows — a LATERAL-joinable
    table function callable from SQL.

    Production guidance in-tree: for the hot path the engine uses the
    codegen equivalent ``explode(str_to_map(...))`` (F1/F3); the UDTF
    exists for API parity and for unpack logic too irregular for
    str_to_map. Idempotent registration."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="key: string, value: string")
    class ExplodePacked:
        def eval(self, packed: str, pair_sep: str = "|", kv_sep: str = "="):
            if packed is None:
                return
            for pair in packed.split(pair_sep):
                if not pair:
                    continue
                k, sep, v = pair.partition(kv_sep)
                yield k, (v if sep else None)

    spark.udtf.register("explode_packed", ExplodePacked)
    return ("explode_packed",)
