"""Text-prep operators exposed at the DataFrame surface (SURVEY.md §2.2
P3/P4, §2.7 T1).

``clean_linebreaks_col`` is the *native Catalyst* expression form of the
Python kernel ``functions.textnorm.clean_linebreaks`` (whole-stage codegen,
no UDF) — covers \\r\\n/\\r/\\n, the linebreak classes that occur in web
text after UTF-8 decode; the Python kernel additionally handles exotic
unicode linebreaks via str.splitlines. Equivalence on the common classes is
pinned in tests/test_textprep.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.sentencizer import split_sentences
from ..functions.textnorm import clean_linebreaks

__all__ = [
    "clean_linebreaks_col",
    "split_sentences_udf",
    "extract_text_udf",
    "chunk_documents",
]


def clean_linebreaks_col(col: Column) -> Column:
    """P3+P4 as one codegen'd expression: NULL→"", split lines, drop
    empty lines (pre-strip), strip survivors, rejoin with \\n
    (reference sentence_splitter.py:39-44, 54-57)."""
    lines = F.split(F.coalesce(col, F.lit("")), "\r\n|\r|\n")
    kept = F.filter(lines, lambda x: x != "")
    # Python str.strip removes tabs/formfeeds too — F.trim only strips
    # spaces, so strip with a whitespace-class regex (incl. common unicode
    # spaces) to match the kernel
    ws = ("[\\s\u00a0\u1680\u2000-\u200a"
          "\u2028\u2029\u202f\u205f\u3000]+")  # \s + unicode spaces
    stripped = F.transform(
        kept,
        lambda x: F.regexp_replace(F.regexp_replace(x, f"^{ws}", ""), f"{ws}$", ""),
    )
    return F.array_join(stripped, "\n")


def split_sentences_udf():
    """T1 as an Arrow UDF: text (pre-cleaned or raw) + lang → array of
    sentence strings (cleans linebreaks first, like the reference recipe)."""

    @F.pandas_udf("array<string>")
    def _split(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for text_s, lang_s in it:
            out = [
                split_sentences(clean_linebreaks(t), l if isinstance(l, str) and l else "en")
                for t, l in zip(text_s, lang_s)
            ]
            yield pd.Series(out)

    return _split


def extract_text_udf():
    """HTML→text extraction as an Arrow UDF (SEMANTICS.md §9)."""
    from ..functions.html_text import extract_text

    @F.pandas_udf("string")
    def _extract(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for html_s in it:
            yield pd.Series(
                [extract_text(h) if h is not None else None for h in html_s]
            )

    return _extract


def chunk_documents(
    df,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 128,
    overlap: int = 0,
):
    """Fixed-size token-window chunking with optional overlap — the
    standard prep for embedding / training-sample pipelines (each chunk
    becomes one training row or one embedding input).

    Contract: tokens = whitespace split of the normalized text (lowercase,
    collapsed whitespace — `dedup.normalized_text`); chunk starts at
    0, step, 2·step, … (step = chunk_tokens − overlap > 0) while
    start < n_tokens; the last chunk may be shorter; empty/NULL documents
    emit NO rows. Output: (id, chunk_idx, chunk_text, n_tokens).

    Pure per-row transform + explode: zero shuffle at any corpus size
    (chunking 100 TB is a map; the explode multiplies rows ~n/step×
    before the next stage, which is why it stays upstream of
    repartitioning, not after).

    The token array is materialized as a PROJECTED COLUMN before the
    higher-order transform: HOF lambdas evaluate interpreted, outside
    whole-stage codegen, and a lambda body that references the
    ``split(...)`` *subtree* re-splits the whole document once per chunk
    — O(n²) per document, which visibly hangs on a 100k-token doc. A
    bound column reference is read once per row, restoring O(n).
    """
    from .dedup import normalized_text

    step = chunk_tokens - overlap
    if step <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    norm = normalized_text(F.col(text_col))
    tokenized = df.select(
        F.col(id_col).alias("id"),
        F.when(norm == "", F.array().cast("array<string>"))
        .otherwise(F.split(norm, " "))
        .alias("_toks"),
    )
    toks = F.col("_toks")
    n = F.size(toks)
    starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(step))).otherwise(
        F.array().cast("array<int>")
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            F.array_join(F.slice(toks, s + 1, chunk_tokens), " ").alias("chunk_text"),
            F.least(F.lit(chunk_tokens), n - s).alias("n_tokens"),
        ),
    )
    return tokenized.select(
        "id", F.posexplode(chunks).alias("chunk_idx", "c")
    ).select(
        "id", "chunk_idx",
        F.col("c")["chunk_text"].alias("chunk_text"),
        F.col("c")["n_tokens"].alias("n_tokens"),
    )
