"""Token classifier predicates (SURVEY.md §2.7 T4; reference
python-lib/nlp/spacy_tokenizer.py:30-98 custom token extensions).

Unused by the tagging path in the reference too, but part of its public
token surface: hashtag / username / emoji / symbol / datetime / measure /
space predicates, re-expressed as pure functions + Spark Column builders.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .tokenizer import _EMOJI_CLASS

__all__ = [
    "is_hashtag", "is_username", "is_emoji_token", "is_symbol",
    "is_datetime_token", "is_measure", "is_space_token", "classify_token_col",
]

_EMOJI_START_RE = re.compile(f"[{_EMOJI_CLASS}]")
_HASHTAG_RE = re.compile(r"#\w+$")
_USERNAME_RE = re.compile(r"@\w+$")
_SYMBOL_RE = re.compile(r"[$€£¥%©®™§±×÷=+<>^~|]+$")
_DATETIME_RE = re.compile(
    r"(\d{1,4}[-/.]\d{1,2}[-/.]\d{1,4}|\d{1,2}:\d{2}(:\d{2})?)$"
)
_MEASURE_RE = re.compile(r"\d+(\.\d+)?(km|m|cm|mm|kg|g|mg|lb|oz|mi|ft|in|%|°[CF]?)$", re.I)


def is_hashtag(tok: str) -> bool:
    return bool(_HASHTAG_RE.match(tok))


def is_username(tok: str) -> bool:
    return bool(_USERNAME_RE.match(tok))


def is_emoji_token(tok: str) -> bool:
    return bool(_EMOJI_START_RE.match(tok))


def is_symbol(tok: str) -> bool:
    return bool(_SYMBOL_RE.match(tok))


def is_datetime_token(tok: str) -> bool:
    return bool(_DATETIME_RE.match(tok))


def is_measure(tok: str) -> bool:
    return bool(_MEASURE_RE.match(tok))


def is_space_token(tok: str) -> bool:
    return bool(tok) and tok.isspace()


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
