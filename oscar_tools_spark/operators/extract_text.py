"""`v2 extract-text`: project content out of annotated documents.

The reference streams each document's ``content`` followed by a blank
line, producing the v1 text format (`/root/reference/src/ops/
extract_text.rs:32-49` writes ``content + "\\n\\n"``). Here that is a
pure projection (column select + concat) — Catalyst prunes every other
column out of the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def extract_text(
    df: DataFrame, text_col: str = "text", out_col: str = "v1_text"
) -> DataFrame:
    """Per-document v1 emission: content + blank-line separator."""
    return df.select(
        *[c for c in df.columns if c != text_col],
        F.concat(F.col(text_col), F.lit("\n\n")).alias(out_col),
    )

