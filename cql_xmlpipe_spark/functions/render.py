"""Type-render scalar kernel: Spark value → text, per SURVEY §1.2.

Mirrors the reference's ``getValue`` dispatch (``Query.java:231-266``) as
Spark SQL text: it takes the SQL of a value and returns the SQL of its
rendering, and the caller parses a whole document plan in one ``F.expr`` /
``selectExpr`` (JVM-side, codegen'd — no Python in this path). Built from
Column calls instead, every ``F.lit``/``F.coalesce``/lambda is its own py4j
round trip: the document plan of TPC-H ``lineitem`` (two hash-path keys)
took 1,777 commands to build; from SQL text it takes 23, for the same
optimized plan.

Documented divergences from the reference (each a reference *defect*,
SURVEY §1.2):
  * blob: reference prints ``ByteBuffer.toString()`` buffer metadata; we
    emit hex (``Query.java:225,243`` defect).
  * counter/bigint-as-int paths: reference's driver getInt type-checks and
    throws; we render the integral value.
  * map/tuple/UDT: reference silently emits "" (``Query.java:265``);
    parity mode matches, sane mode emits JSON.
  * NULL anywhere: reference NPEs or zeroes; we render "".
"""

from __future__ import annotations

from pyspark.sql import types as T

#: java.util.Date.toString() pattern (Query.java:252-253 renders timestamps
#: via row.getDate().toString()); TZ pinned to UTC by the session factory.
JAVA_DATE_PATTERN = "EEE MMM dd HH:mm:ss zzz yyyy"


def render_value(expr: str, dtype: T.DataType, mode: str = "parity", _depth: int = 0) -> str:
    """SQL that renders ``expr`` (the SQL of a ``dtype`` value) as text.
    Never NULL (nulls -> '').

    mode="parity": match the reference's observable output where it is not
    a crash-defect. mode="sane": modern defaults (ISO timestamps, JSON for
    nested types). ``_depth`` names the lambda variable of each nested
    array level (``x_1``, ``x_2``, ...).
    """
    if isinstance(dtype, T.StringType):
        out = expr
    elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        pattern = JAVA_DATE_PATTERN if mode == "parity" else "yyyy-MM-dd HH:mm:ss"
        out = f"date_format({expr}, '{pattern}')"
    elif isinstance(dtype, T.BinaryType):
        out = f"hex({expr})"  # divergence: reference prints buffer metadata
    elif isinstance(dtype, T.ArrayType):
        # set<T>/list<T> -> space-joined elements; empty -> ""
        # (Query.java:257-263,268-277)
        x = f"x_{_depth + 1}"
        elem = render_value(x, dtype.elementType, mode, _depth + 1)
        out = f"array_join(transform({expr}, {x} -> {elem}), ' ', '')"
    elif isinstance(dtype, (T.MapType, T.StructType)):
        # reference: silent fall-through to "" (Query.java:265)
        out = "''" if mode == "parity" else f"to_json({expr})"
    else:
        # integral, boolean ('true'/'false', Boolean.toString), date,
        # decimal (BigDecimal.toString) and float/double: Spark's cast is
        # Java Double.toString ('1.0', '1.0E10'), the reference's format
        out = f"CAST({expr} AS STRING)"
    return f"coalesce({out}, '')"
