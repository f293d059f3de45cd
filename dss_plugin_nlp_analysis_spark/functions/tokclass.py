"""Token classifier (SURVEY.md §2.7 T4; reference
python-lib/nlp/spacy_tokenizer.py:30-98 custom token extensions).

Unused by the tagging path in the reference too, but part of its public
token surface: the hashtag / username / datetime / measure / symbol /
space classes plus emoji, re-expressed as one native Spark Column builder.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .tokenizer import _EMOJI_CLASS, _MODIFIER_CLASS, _REGIONAL_CLASS

__all__ = ["classify_token_col", "EMOJI_PATTERN"]

# A token made only of the tokenizer's emoji code points: pictographs,
# skin-tone/variation/keycap modifiers, regional indicators (flags) and
# the zero-width joiner of ZWJ sequences. Written in \x{...} form, which
# Java regex and RE2 both read (Java has no \U escape); \z, not $, since
# Java's $ also matches before a trailing line terminator.
EMOJI_PATTERN = (
    "^["
    + re.sub(r"\\[uU]0*([0-9a-fA-F]+)", r"\\x{\1}",
             _EMOJI_CLASS + _MODIFIER_CLASS + _REGIONAL_CLASS)
    + r"\x{200d}]+\z"
)


def classify_token_col(tok: Column) -> Column:
    """Native Column classifier: first matching class label (or 'word')."""
    return (
        F.when(tok.rlike(r"^#\w+$"), F.lit("hashtag"))
        .when(tok.rlike(r"^@\w+$"), F.lit("username"))
        .when(tok.rlike(r"^\d{1,4}[-/.]\d{1,2}[-/.]\d{1,4}$") | tok.rlike(r"^\d{1,2}:\d{2}(:\d{2})?$"), F.lit("datetime"))
        .when(tok.rlike(r"^(?i)\d+(\.\d+)?(km|m|cm|mm|kg|g|mg|lb|oz|mi|ft|in|%|°[CF]?)$"), F.lit("measure"))
        .when(tok.rlike(r"^[$€£¥%©®™§±×÷=+<>^~|]+$"), F.lit("symbol"))
        .when(tok.rlike(EMOJI_PATTERN), F.lit("emoji"))
        .when(tok.rlike(r"^\s+$"), F.lit("space"))
        .otherwise(F.lit("word"))
    )
