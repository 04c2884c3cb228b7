"""SQL text for the expressions a pipeline pass builds.

Spark parses an expression handed over as text in one driver round trip;
the same expression built from ``Column`` calls costs one or more round
trips per call.  Every value interpolated into that text goes through
one of these helpers, so a column name, a bound or a scenario id reads
back as the value it was.
"""

from __future__ import annotations

import math


def ident(name: str) -> str:
    """``name`` as one quoted identifier."""
    return "`" + name.replace("`", "``") + "`"


def number(value: float) -> str:
    """``value`` as a numeric literal of its own type: an int stays an
    integer literal, a float is a DOUBLE (``repr`` round-trips it), and
    NaN and the infinities are casts.  A negative literal is
    parenthesized, so no ``-`` before it can make a ``--`` comment."""
    if isinstance(value, int):
        text = str(value)
    elif math.isnan(value):
        return "CAST('NaN' AS DOUBLE)"
    elif math.isinf(value):
        return f"CAST('{'-' if value < 0 else ''}Infinity' AS DOUBLE)"
    else:
        text = f"{float(value)!r}D"
    return f"({text})" if text.startswith("-") else text


def string(value: str) -> str:
    """``value`` as a string literal: backslash and quote escaped."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
