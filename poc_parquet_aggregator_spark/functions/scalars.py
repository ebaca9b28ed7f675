"""Scalar helpers (SURVEY.md §2.8 F5-F13, §2.2 P2-P6) as pure column exprs."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def strip_utc_suffix(c: Column) -> Column:
    """Strip the nise timestamp suffix ' +0000 UTC' so to_timestamp parses it
    (F6; aggregator_pod.py:444-457 and its 5 clones collapse to this one
    expression in Spark)."""
    return F.regexp_replace(c, r" \+\d{4} UTC$", "")


def to_usage_date(c: Column) -> Column:
    """P2: timestamp (or nise string form) → day-grain date."""
    return F.to_date(F.to_timestamp(strip_utc_suffix(c.cast("string"))))


def effective_usage(effective: Column, usage: Column, request: Column) -> Column:
    """P5 (Trino lines 277/281): coalesce(effective, greatest(usage, request)).
    Reference: aggregator_pod.py:685-708, utils.py:188-237."""
    return F.coalesce(effective, F.greatest(usage, request))


def days_in_month(c: Column) -> Column:
    """F8: calendar.monthrange → dayofmonth(last_day(c))."""
    return F.dayofmonth(F.last_day(c))
