"""Shared column helpers used across the query compilers."""

from __future__ import annotations

from pyspark.sql import Column


def anchored_rlike(c: Column, pattern: str) -> Column:
    """Label-matcher regex semantics: the pattern must match the ENTIRE
    value (Prometheus pkg/labels anchors matchers as ``^(?:re)$``; the
    reference does the same for LogQL label matchers,
    ``logql/parser_test.go:107`` and PromQL label matchers,
    ``chstorage/querier_metrics.go:189``).  Line filters and TraceQL
    ``=~`` stay unanchored substring matches and must NOT use this."""
    return c.rlike(f"^(?:{pattern})$")


def label_match(c: Column, op: str, value: str) -> Column:
    """The label-matcher predicate ``c op value`` for the four matcher
    ops shared by LogQL and PromQL selectors (``=``, ``!=``, ``=~``,
    ``!~``); regexes are anchored as in :func:`anchored_rlike`."""
    if op == "=":
        return c == value
    if op == "!=":
        return c != value
    if op == "=~":
        return anchored_rlike(c, value)
    if op == "!~":
        return ~anchored_rlike(c, value)
    raise SyntaxError(f"bad label-matcher op {op!r}")
