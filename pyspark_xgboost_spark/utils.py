"""Small shared utilities (reference parity: sparkdl/utils/__init__.py).

``get_conf_boolean`` ports O26 ``_getConfBoolean``
(/root/reference/sparkdl/utils/__init__.py:5-23, tested at
/root/reference/tests/utils/__init__.py:8-31): read a SparkSession conf
as a strict boolean, accepting any capitalization of "true"/"false"
(Scala conf round-trips stringify booleans) and raising on anything
else rather than silently coercing.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

def cpu_spread_partitions(spark: SparkSession) -> int:
    """Partition count for a CPU-bound map pass (e.g. an md5-per-
    character rolling-hash scan) that must be spread across the cluster
    even when the source arrives as one tiny split: one partition per
    task slot, derived from ``defaultParallelism`` like the streaming
    state sizing in streaming/stream.py, never a literal count — a
    hard-coded 32 bakes the bench host's CPU shape into operator code
    and is the wrong constant on any other cluster."""
    return max(2, spark.sparkContext.defaultParallelism)


def get_conf_boolean(spark: SparkSession, key: str, default: bool) -> bool:
    """Return the session conf ``key`` as a bool.

    The conf value may be a Python bool already stringified by Spark or
    a user-set string; any capitalization of true/false is accepted
    (matching Scala's conf stringification). A non-boolean value raises
    ValueError — a typo'd conf must not silently read as False.
    """
    val = spark.conf.get(key, str(default))
    lowered = str(val).lower()
    if lowered == "true":
        return True
    if lowered == "false":
        return False
    raise ValueError(
        f"expected a boolean conf value for {key!r} but found "
        f"{type(val).__name__} value: {val!r}"
    )


# The ONE whitespace-tokenizer contract, shared by every engine side.
#
# Three regex dialects meet in this repo and their \s disagree: Java
# (Spark exprs) includes \x0b, RE2 (DuckDB oracles) does NOT, and
# Python's re / str.split() match full UNICODE whitespace (NBSP, EM
# SPACE, NEL, FS..US). On a corpus containing any of those characters
# a bare \s+ tokenizer silently diverges between an operator and its
# oracle. Every tokenizer therefore pins the explicit ASCII class
# [ \t\n\f\r]+ on BOTH sides (Spark SQL fragments, DuckDB oracle SQL,
# and the Python kernels below) — engine-independent by construction.
ASCII_WS_RE = re.compile(r"[ \t\n\f\r]+")


def ascii_tokens(text: str | None) -> list[str]:
    """Python-kernel replica of ``split(lower(text), '[ \\t\\n\\f\\r]+')``
    + empty-filter, for pandas/UDTF tokenizers that must agree with the
    SQL sides byte-for-byte."""
    return [t for t in ASCII_WS_RE.split((text or "").lower()) if t]
