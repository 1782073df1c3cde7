"""Scalar presentation functions (SURVEY §2.8 C1, C2, C7) — the reference's
u64 time decoders re-expressed as date_format/format_string over one internal
TimestampType (SURVEY §1.1 "Time": single encoding internally, presentation at
the edge)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hour_timeframe(ts: Column | str) -> Column:
    """C1: u64_to_timeframe analog — 'YY.MM.DD HH:00 - HH:59' (main.rs:140-154)."""
    return F.format_string(
        "%s %s:00 - %s:59",
        F.date_format(ts, "yy.MM.dd"),
        F.date_format(ts, "HH"),
        F.date_format(ts, "HH"),
    )


def hour_range(ts: Column | str) -> Column:
    """C2: u64_to_hours analog — 'HH:00 - HH:59' (daily_yield.rs:10-17)."""
    return F.format_string("%s:00 - %s:59", F.date_format(ts, "HH"), F.date_format(ts, "HH"))


def percentage(ok: Column, nok: Column) -> Column:
    """C7: Yield::precentage, 2 dp (main.rs:745-747)."""
    return F.round(100.0 * ok / (ok + nok), 2)
