"""Title slug normalization (C7) — the fuzzy-match join key.

Reference semantics (StringUtilities.scala:17-40 +
ScorableFeatures.scala:40-56): NFD/NFKD-normalize, strip accents, strip
punctuation, lowercase, strip whitespace; slugs shorter than 8 chars or
in a junk denylist are rejected (no match key).

Pure form feeds the oracle/tests; Spark form is a pandas UDF
(accent-strip needs unicodedata — no Catalyst builtin).
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

MIN_SLUG_LEN = 8
# junk titles that must never become match keys (spirit of
# ScorableFeatures.scala's SlugBlacklist)
SLUG_DENYLIST = frozenset(
    {
        "abstract", "editorial", "introduction", "preface", "untitled",
        "bookreviews", "commentary", "inthisissue", "letterstotheeditor",
    }
)

_PUNCT_WS = re.compile(r"[\W_]+", flags=re.UNICODE)


def title_slug(title: str | None) -> str | None:
    """None when the title yields no usable match key."""
    if title is None:
        return None
    norm = unicodedata.normalize("NFKD", title)
    no_accents = "".join(c for c in norm if not unicodedata.combining(c))
    slug = _PUNCT_WS.sub("", no_accents).lower()
    if len(slug) < MIN_SLUG_LEN or slug in SLUG_DENYLIST:
        return None
    return slug


@F.pandas_udf(T.StringType())
def title_slug_udf(titles: pd.Series) -> pd.Series:
    return titles.map(title_slug, na_action="ignore")

