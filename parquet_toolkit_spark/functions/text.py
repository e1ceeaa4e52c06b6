"""Text analysis over the documents table: language-ID, quality scoring,
token counting, fingerprinting.

Every function returns a Column (composable) or a DataFrame query. The
SQL-oracle-checked ones use only engine-portable primitives (literal
`replace`, `length`, `sha2`) so DuckDB reproduces them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# language marker words: counted via literal replace (no regex — identical
# semantics in Spark and DuckDB). Space-padded to approximate word matches.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " is "],
    "de": [" der ", " und ", " die ", " ist "],
    "fr": [" le ", " et ", " les ", " est "],
    "es": [" el ", " que ", " los ", " es "],
}
CJK_MARKERS = ["的", "是", "在", "了"]


def occurrences(col: Column, needle: str) -> Column:
    """# of occurrences of a literal substring (portable: length/replace)."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


def lang_scores(col: Column) -> dict[str, Column]:
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    scores = {
        lang: sum(occurrences(padded, m) for m in markers).alias(f"score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    }
    scores["zh"] = sum(occurrences(col, m) for m in CJK_MARKERS).alias("score_zh")
    return scores


def lang_id(col: Column) -> Column:
    """Marker-count language id with fixed tie-break order (en,de,fr,es,zh)."""
    s = lang_scores(col)
    order = ["en", "de", "fr", "es", "zh"]
    best = s[order[0]]
    for lang in order[1:]:
        best = F.greatest(best, s[lang])
    expr = F.when(best <= 0, F.lit("und"))
    for lang in order:
        expr = expr.when(s[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def token_count(col: Column) -> Column:
    """Whitespace token count; '' and all-space -> 0 (portable semantics)."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


# punctuation counted one literal char at a time — locale/regex-free
_PUNCT = list(".,;:!?'\"()[]{}")


def quality_features(col: Column) -> dict[str, Column]:
    n = F.length(col)
    punct = sum(occurrences(col, p) for p in _PUNCT)
    spaces = occurrences(col, " ")
    return {
        "n_chars_q": n.cast("long").alias("n_chars_q"),
        "n_tokens": token_count(col).cast("long").alias("n_tokens"),
        "punct_ratio": (punct / F.greatest(n, F.lit(1))).alias("punct_ratio"),
        "space_ratio": (spaces / F.greatest(n, F.lit(1))).alias("space_ratio"),
    }


def quality_score(col: Column) -> Column:
    """Deterministic 0-100 heuristic: favors mid-length, punctuated,
    space-separated text (web-pipeline quality gate shape)."""
    f = quality_features(col)
    n = F.length(col).cast("double")
    len_score = F.least(n / 500.0, F.lit(1.0)) * 40.0
    punct_score = F.least(f["punct_ratio"] * 400.0, F.lit(30.0))
    space_score = F.least(f["space_ratio"] * 150.0, F.lit(30.0))
    return F.round(len_score + punct_score + space_score, 4)


def fingerprint_sha256(col: Column) -> Column:
    """Content fingerprint = sha256 hex of the UTF-8 bytes (oracle: DuckDB
    sha256(text))."""
    return F.sha2(col.cast("binary"), 256)


# PII scrubbing (pipeline hygiene pass): deterministic regex redaction of
# the machine-recognizable identifier classes. Pure JVM regexp_replace
# chains — codegen'd, zero python. These are pattern redactors, not an
# NER system: names/addresses need a model and are out of scope.
_PII_PATTERNS: dict[str, str] = {
    # local-part@domain.tld (conservative: requires a dot in the domain)
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
    # IPv4 with 0-255 octets (word-bounded so version strings don't match)
    "ipv4": (r"\b(?:(?:25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])\.){3}"
             r"(?:25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])\b"),
    # international-ish phone: optional +CC, separators, 7+ digits total
    "phone": (r"(?<![\w.])\+?[0-9][0-9()\-\s.]{5,18}[0-9]"
              r"(?![\w.])"),
    # 13-19 digit card numbers with optional space/dash groups
    "card": r"\b(?:\d[ \-]?){13,19}\b",
}


def scrub_pii(col: Column,
              kinds: tuple[str, ...] = ("email", "ipv4", "card", "phone"),
              token: str = "[{kind}]") -> Column:
    """Redact identifier patterns, replacing each match with the kind's
    token (default "[email]", "[ipv4]", ...). Order matters: email runs
    before phone so the digits of user123@x.com aren't half-eaten, and
    card before phone so a 16-digit card isn't consumed as a phone."""
    out = col
    for kind in kinds:
        pat = _PII_PATTERNS[kind]
        out = F.regexp_replace(out, pat, token.format(kind=kind))
    return out


def pii_counts(col: Column,
               kinds: tuple[str, ...] = ("email", "ipv4", "card", "phone")
               ) -> dict[str, Column]:
    """{kind: match count} — the audit companion to scrub_pii (gate docs
    by count, sample high-PII sources for review)."""
    return {
        # idx=0 = whole match (the patterns use non-capturing groups only)
        kind: F.size(F.regexp_extract_all(
            col, F.lit(_PII_PATTERNS[kind]), F.lit(0)))
        for kind in kinds
    }
