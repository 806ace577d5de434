"""The driver digest form: each source frame projected to
``(component, entity, value)`` rows by a list of legs.

A leg is ``(tag, entity_sql, value_sql)``: a literal component tag and
two SQL expressions over the source's columns, written in the dialect
Spark SQL and DuckDB share. Every leg casts its entity to a string and
its value to a double.

``digest_frame`` builds the Spark side: one ``inline(array(...))``
projection per source frame, unioned, so a source read by several legs
appears once in the plan. ``digest_sql`` builds the DuckDB side: each
source's oracle SQL fanned out through one ``LATERAL (VALUES ...)``
row list. The two sides share only this per-leg cast and fan-out; the
sources' own Spark plans and oracle SQL stay independent.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame

Leg = tuple[str, str, str]


def digest_frame(parts: Iterable[tuple[DataFrame, Sequence[Leg]]]) -> DataFrame:
    """Union of one projection per ``(frame, legs)`` pair."""
    out = None
    for df, legs in parts:
        rows = ", ".join(
            f"named_struct('component', '{tag}', "
            f"'entity', CAST({entity} AS STRING), "
            f"'value', CAST({value} AS DOUBLE))"
            for tag, entity, value in legs
        )
        part = df.selectExpr(f"inline(array({rows}))")
        out = part if out is None else out.unionByName(part)
    return out


def digest_sql(parts: Iterable[tuple[str, Sequence[Leg]]]) -> str:
    """``UNION ALL`` of one lateral fan-out per ``(oracle SQL, legs)`` pair."""
    return "\nUNION ALL\n".join(
        f"SELECT u.* FROM ({sql}) s, LATERAL (VALUES "
        + ", ".join(
            f"('{tag}', CAST({entity} AS STRING), CAST({value} AS DOUBLE))"
            for tag, entity, value in legs
        )
        + ") u(component, entity, value)"
        for sql, legs in parts
    )
