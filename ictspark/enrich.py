"""Enrich stage (SURVEY.md J2): broadcast hash-join against the tool dim.

tool_dim is tiny (≤ dozens of rows) at any scale — the reference's
`Product` config lookup (/root/reference/src/main.rs:526,628). `F.broadcast`
pins BroadcastHashJoin so the 100 TB fact side never shuffles for the enrich.
Unmatched tools route to 'misc' (SEMANTICS.md Routing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_steps(steps: DataFrame, tool_dim: DataFrame) -> DataFrame:
    return steps.join(F.broadcast(tool_dim), "tool", "left").withColumn(
        "route_key", F.coalesce("route_key", F.lit("misc"))
    )


def route_counts(es_a: DataFrame) -> DataFrame:
    """Enriched step rows per route sink."""
    return es_a.groupBy("route_key").agg(F.count(F.lit(1)).alias("n"))
