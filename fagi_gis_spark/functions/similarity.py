"""String similarity: Jaro-Winkler, fuzzy-token Jaccard, exact-token Jaccard.

Reference semantics (/root/reference/fagi-gis-service/src/main/java/gr/athenainnovation/imis/fusion/gis/servlets/FindLinkServlet.java:480-508):
tokenize with a word/camel-case breaker (utils/Patterns.java:130), count a
token pair as an intersection hit when Jaro-Winkler > 0.8, score =
|intersection| / |union|; accept a link when score > 0.8 (single) or
> 0.2 (batch, BatchFindLinkServlet.java:712-713).

Jaro-Winkler is implemented from the published algorithm (Winkler 1990;
prefix scale 0.1, max prefix 4). The exact-token variant is pure Spark
column algebra (JVM) for the oracle-checkable path.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# word breaker: split on non-alphanumerics and camelCase boundaries
_BREAKER = re.compile(r"[^0-9A-Za-z]+|(?<=[a-z])(?=[A-Z])")


def tokenize(s: str) -> list[str]:
    if not s:
        return []
    return [t.lower() for t in _BREAKER.split(s) if t]


def jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    n1, n2 = len(s1), len(s2)
    if n1 == 0 or n2 == 0:
        return 0.0
    window = max(n1, n2) // 2 - 1
    if window < 0:
        window = 0
    m1 = [False] * n1
    m2 = [False] * n2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - window)
        hi = min(n2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(n1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (matches / n1 + matches / n2 + (matches - t) / matches) / 3.0


def jaro_winkler(s1: str, s2: str, scale: float = 0.1, max_prefix: int = 4) -> float:
    j = jaro(s1, s2)
    if j <= 0.7:
        return j
    prefix = 0
    for a, b in zip(s1[:max_prefix], s2[:max_prefix]):
        if a != b:
            break
        prefix += 1
    return j + prefix * scale * (1.0 - j)


def fuzzy_token_jaccard(a: str, b: str, jw_threshold: float = 0.8) -> float:
    """FindLinkServlet.getJaccardIndex semantics: tokens intersect when
    JW > threshold; score = intersection / union (union = |A|+|B|-inter)."""
    ta, tb = tokenize(a), tokenize(b)
    if not ta or not tb:
        return 0.0
    used = [False] * len(tb)
    inter = 0
    for x in ta:
        for j, y in enumerate(tb):
            if not used[j] and jaro_winkler(x, y) > jw_threshold:
                used[j] = True
                inter += 1
                break
    union = len(ta) + len(tb) - inter
    return inter / union if union else 0.0


@F.pandas_udf(T.DoubleType())
def u_fuzzy_jaccard(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [fuzzy_token_jaccard(x or "", y or "") for x, y in zip(a, b)], dtype="float64"
    )


@F.pandas_udf(T.DoubleType())
def u_jaro_winkler(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series([jaro_winkler(x or "", y or "") for x, y in zip(a, b)], dtype="float64")
