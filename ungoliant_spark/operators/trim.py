"""RemoveShortSentences — trim runs of short lines from both ends.

Reference: /root/reference/src/transformers/sentence_filter.rs:178-252
(extract_indices 191-201 skips leading/trailing lines failing
Length::detect, i.e. codepoint length <= 100; build_content 206-223
returns the joined kept lines plus the inclusive kept range).
Applied, with drop-if-empty, at
/root/reference/src/pipelines/oscardoc/pipeline.rs:162-185.

Spark-first design: zero Python. The kept range is computed with
array_position over a boolean mask (first/last index whose codepoint
length exceeds the threshold); content is slice + array_join. All of
it stays inside whole-stage codegen and is evaluated once per row.

Emits ``line_start`` / ``line_end`` (0-based inclusive, matching the
reference Location line bounds, src/pipelines/oscardoc/types/
location.rs:115-132) for the lineage table.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ungoliant_spark.config import LENGTH_MIN_CODEPOINTS
from ungoliant_spark.functions.lines import rust_lines


def trim_bounds(lines: Column, min_len: int = LENGTH_MIN_CODEPOINTS):
    """(line_start, line_end) 0-based inclusive kept range, nulls if all short."""
    mask = F.transform(lines, lambda x: F.length(x) > F.lit(min_len))
    first_pos = F.array_position(mask, True)  # 1-based, 0 if absent
    last_pos = (
        F.size(mask) - F.array_position(F.reverse(mask), True) + 1
    )
    line_start = F.when(first_pos > 0, first_pos - 1)
    line_end = F.when(first_pos > 0, last_pos - 1)
    return line_start.cast("int"), line_end.cast("int")


def trimmed_lines(lines: Column, line_start: Column, line_end: Column) -> Column:
    """slice of ``lines`` over the inclusive kept range (empty if dropped)."""
    return F.when(
        line_start.isNotNull(),
        F.slice(lines, line_start + 1, line_end - line_start + 1),
    ).otherwise(F.array().cast("array<string>"))


def trim_stage(
    text_col: str = "transcript",
    min_len: int = LENGTH_MIN_CODEPOINTS,
) -> Callable[[DataFrame], DataFrame]:
    """:func:`apply_trim` with its Columns built once: the returned
    function only adds them to a DataFrame, so a plan applied to many
    inputs builds the expressions one time."""
    raw = rust_lines(F.col(text_col))
    start, end = trim_bounds(F.col("_raw_lines"), min_len)
    lines = trimmed_lines(
        F.col("_raw_lines"), F.col("line_start"), F.col("line_end")
    )
    keep = F.col("line_start").isNotNull()

    def stage(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("_raw_lines", raw)
            .withColumns({"line_start": start, "line_end": end})
            .withColumns({"lines": lines, "trim_keep": keep})
            .drop("_raw_lines")
        )

    return stage


def apply_trim(
    df: DataFrame,
    text_col: str = "transcript",
    min_len: int = LENGTH_MIN_CODEPOINTS,
) -> DataFrame:
    """Add ``lines``(post-trim), ``line_start``, ``line_end``, ``trim_keep``.

    ``trim_keep`` is false when every line is short — the reference drops
    such records (pipeline.rs:171-185 drops docs whose trimmed content is
    empty). Downstream stages must operate on the trimmed ``lines``.
    """
    return trim_stage(text_col, min_len)(df)
