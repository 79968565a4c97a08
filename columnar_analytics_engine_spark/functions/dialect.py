"""The two SQL dialects the cross-engine formulas render for.

Every formula of the oracle contract (``functions/hashing.py``,
``functions/text.py``, the layout bins in ``layout.py``) is ONE Python
function taking SQL-text arguments and a :class:`Dialect` and returning
SQL text.  Spark call sites wrap the result in ``F.expr``; the DuckDB
oracles interpolate it into query SQL.  A dialect holds only the
primitives where Spark SQL and DuckDB differ:

=================  ==================================  ===============================
primitive          SPARK                               DUCKDB
=================  ==================================  ===============================
hex -> bigint      ``cast(conv(x, 16, 10) as bigint)``  ``CAST('0x' || x AS BIGINT)``
higher-order       ``transform`` / ``filter``           ``list_transform`` / ``list_filter``
array / struct     ``array(..)`` / ``named_struct(..)``  ``[..]`` / ``{'k': ..}``
element (1-based)  ``element_at(a, i)``                 ``(a)[i]``
length / distinct  ``size`` / ``array_distinct``        ``len`` / ``list_distinct``
membership         ``array_contains``                   ``list_contains``
regex split        ``split``                            ``regexp_split_to_array``
regex replace-all  ``regexp_replace(x, p, r)``          ``regexp_replace(x, p, r, 'g')``
shift right        ``shiftright(x, n)``                 ``(x >> n)``
positions 1..n     ``sequence`` (empty branch)          ``range(1, n + 1)``
string literal     backslash escapes                    quote doubling
identifier         backticks                            double quotes
=================  ==================================  ===============================

Everything else — ``md5``, ``substring``, ``||``, ``%``, ``<<``, ``&``,
``CAST(x AS DOUBLE)``, ``least``/``greatest``/``floor``, CASE and
``.field`` access — is written once in the shared template text.
Spark's ``>>`` is not shared: once ``array(`` occurs earlier in the
expression, Spark's lexer reads ``>>`` as two closing type brackets and
the parse fails.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable


@dataclass(frozen=True)
class Dialect:
    """The primitives where Spark SQL and DuckDB differ (table above)."""

    hex_to_bigint: Callable[[str], str]
    transform: str
    filter: str
    array: Callable[[list[str]], str]
    struct: Callable[[dict[str, str]], str]
    elem: Callable[[str, str], str]
    size: str
    distinct: str
    contains: str
    split: str
    replace_all: Callable[[str, str, str], str]
    shift_right: Callable[[str, int], str]
    positions: Callable[[str], str]
    lit: Callable[[str], str]
    quote: Callable[[str], str]


SPARK = Dialect(
    hex_to_bigint=lambda x: f"cast(conv({x}, 16, 10) as bigint)",
    transform="transform",
    filter="filter",
    array=lambda items: f"array({', '.join(items)})",
    struct=lambda fields: "named_struct("
    + ", ".join(f"'{k}', {v}" for k, v in fields.items())
    + ")",
    elem=lambda arr, i: f"element_at({arr}, {i})",
    size="size",
    distinct="array_distinct",
    contains="array_contains",
    split="split",
    replace_all=lambda x, pat, rep: f"regexp_replace({x}, {pat}, {rep})",
    shift_right=lambda x, n: f"shiftright({x}, {n})",
    # Spark's sequence(1, n) DESCENDS when n < 1 (it never yields an
    # empty array), so short inputs need an explicit empty branch
    positions=lambda n: (
        f"CASE WHEN {n} >= 1 THEN sequence(1, {n})"
        " ELSE cast(array() as array<int>) END"
    ),
    lit=lambda s: "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'",
    quote=lambda name: "`" + name.replace("`", "``") + "`",
)

DUCKDB = Dialect(
    hex_to_bigint=lambda x: f"CAST('0x' || {x} AS BIGINT)",
    transform="list_transform",
    filter="list_filter",
    array=lambda items: f"[{', '.join(items)}]",
    struct=lambda fields: "{" + ", ".join(f"'{k}': {v}" for k, v in fields.items()) + "}",
    elem=lambda arr, i: f"({arr})[{i}]",
    size="len",
    distinct="list_distinct",
    contains="list_contains",
    split="regexp_split_to_array",
    replace_all=lambda x, pat, rep: f"regexp_replace({x}, {pat}, {rep}, 'g')",
    shift_right=lambda x, n: f"({x} >> {n})",
    positions=lambda n: f"range(1, {n} + 1)",
    lit=lambda s: "'" + s.replace("'", "''") + "'",
    quote=lambda name: '"' + name.replace('"', '""') + '"',
)
