"""Token classifier (SURVEY.md §2.7 T4; reference
python-lib/nlp/spacy_tokenizer.py:30-98 custom token extensions).

Unused by the tagging path in the reference too, but part of its public
token surface: the hashtag / username / datetime / measure / symbol /
space classes, re-expressed as one native Spark Column builder.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["classify_token_col"]


def classify_token_col(tok: Column) -> Column:
    """Native Column classifier: first matching class label (or 'word')."""
    return (
        F.when(tok.rlike(r"^#\w+$"), F.lit("hashtag"))
        .when(tok.rlike(r"^@\w+$"), F.lit("username"))
        .when(tok.rlike(r"^\d{1,4}[-/.]\d{1,2}[-/.]\d{1,4}$") | tok.rlike(r"^\d{1,2}:\d{2}(:\d{2})?$"), F.lit("datetime"))
        .when(tok.rlike(r"^(?i)\d+(\.\d+)?(km|m|cm|mm|kg|g|mg|lb|oz|mi|ft|in|%|°[CF]?)$"), F.lit("measure"))
        .when(tok.rlike(r"^[$€£¥%©®™§±×÷=+<>^~|]+$"), F.lit("symbol"))
        .when(tok.rlike(r"^\s+$"), F.lit("space"))
        .otherwise(F.lit("word"))
    )
