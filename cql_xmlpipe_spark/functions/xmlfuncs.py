"""XML escaping + the embedded-JSON ``<mem>`` transform, as SQL text.

Each kernel takes the SQL of a string value and returns SQL; callers parse
the result with ``F.expr``/``selectExpr`` (one parse, one py4j round trip,
instead of one per ``F.replace``/``F.lit``/lambda — see ``render.py``).

Escaping reproduces JDK StAX rules (SURVEY §4.3, empirically verified):
text nodes escape ``&ampersand, <, >`` (NOT quotes); attribute values
additionally escape ``"``. Replacement order: ``&`` first.

The ``<mem>`` transform reproduces ``parseString`` (``Query.java:279-301``):
a string field whose first/last chars are ``[..]`` or ``{..}`` is attempted
as JSON ``List<Integer[]>``; on success each inner array renders as
``<mem>i i</mem>`` concatenated inside CDATA; on failure the raw text is
emitted escaped. ``{...}`` can never parse as a list so it always falls
back — ``from_json`` with an array schema gives the same behavior for free.
Divergence: the reference crashes on ``""`` (``Query.java:281`` defect); we
emit the empty string.
"""

from __future__ import annotations

MEM_SCHEMA = "array<array<int>>"


def xml_escape_text(expr: str) -> str:
    """Escape a text node the way JDK StAX writeCharacters does."""
    return f"replace(replace(replace({expr}, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"


def xml_escape_attr(expr: str) -> str:
    """Escape an attribute value (text rules + double-quote)."""
    return f"replace({xml_escape_text(expr)}, '\"', '&quot;')"


def mem_transform(expr: str) -> str:
    """parseString: JSON-shaped text -> CDATA '<mem>..</mem>' stream, else
    escaped raw text. Returns a ready-to-embed XML fragment (never null)."""
    s = f"coalesce({expr}, '')"
    parsed = f"from_json({s}, '{MEM_SCHEMA}')"
    # Jackson's List<Integer[]> parse succeeds only when every element is an
    # int array; from_json nulls out mismatched nodes, so reject any null.
    # Parenthesized left-deep: the parser balances a bare AND chain.
    well_formed = (
        f"(((startswith({s}, '[') AND endswith({s}, ']')) AND {parsed} IS NOT NULL)"
        f" AND forall({parsed}, x_1 -> x_1 IS NOT NULL AND forall(x_1, x_2 -> x_2 IS NOT NULL)))"
    )
    mem = (
        f"concat('<![CDATA[', array_join(transform({parsed}, x_1 -> concat('<mem>',"
        f" array_join(CAST(x_1 AS ARRAY<STRING>), ' '), '</mem>')), ''), ']]>')"
    )
    return f"CASE WHEN {well_formed} THEN {mem} ELSE {xml_escape_text(s)} END"
