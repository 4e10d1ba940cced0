"""Text-analysis column expressions (north-star operators; BASELINE.json).

All JVM-side built-ins — no Python UDFs — so they stay inside
whole-stage codegen and scale linearly with the scan. Each helper
returns a Column; operators in ``operators/dedup.py`` compose them.

Design for 100 TB: everything here is a narrow map over the text
column — no shuffle, no state — so it runs at scan speed and benefits
from parquet column pruning (only ``text`` is read).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny embedded stopword lists for the language-ID heuristic. Public
# knowledge (most-frequent function words); intentionally short — the
# heuristic is a coverage-scoring demo, not a production model.
EN_STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "with", "for", "was"]

TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"  # BPE-ish: words | numbers | punct


def words(text: Column) -> Column:
    """Whitespace tokenization; empty/blank text → empty array (the
    naive split('') would yield [''])."""
    return F.when(
        F.length(F.trim(text)) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(text), r"\s+"))


def word_count(text: Column) -> Column:
    return F.size(words(text))


def token_count(text: Column) -> Column:
    """Regex token count (words / numbers / punctuation runs) — the
    whitespace-plus-BPE-ish counter for training-data budgeting."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0))


def punct_ratio(text: Column) -> Column:
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^A-Za-z0-9\s]"), 0))
    return F.round(n_punct / F.greatest(F.length(text), F.lit(1)), 4)


def stopword_hits(text: Column, stopwords: list[str] | None = None) -> Column:
    """Count of stopword occurrences (word-boundary regex)."""
    sw = stopwords or EN_STOPWORDS
    pattern = r"\b(" + "|".join(sw) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pattern), 0))


def quality_score(text: Column) -> Column:
    """Cheap quality heuristic: normalized blend of length, stopword
    density, and (inverse) punctuation density. Range ~[0, 1]."""
    wc = word_count(text)
    length_part = F.least(wc / F.lit(100.0), F.lit(1.0))
    stop_part = F.least(stopword_hits(text) / F.greatest(wc, F.lit(1)) * 5, F.lit(1.0))
    punct_part = F.lit(1.0) - F.least(punct_ratio(text) * 4, F.lit(1.0))
    return F.round((length_part + stop_part + punct_part) / 3, 4)


def normalized(text: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 of the sorted distinct word set — a
    word-order-insensitive document signature (bag fingerprint)."""
    bag = F.array_sort(F.array_distinct(words(F.lower(text))))
    return F.md5(F.array_join(bag, " "))


def minhash_signature(text: Column, n_hashes: int = 8) -> list[Column]:
    """MinHash over the word set: hash family h_i(w) = md5(i || w);
    signature_i = min over words. md5 is engine-portable, so a SQL
    oracle can reproduce the exact signature. Null-safe: empty docs get
    the sentinel 'z' * 32 (greater than every hex digest)."""
    ws = F.array_distinct(words(F.lower(text)))
    sentinel = F.lit("z" * 32)

    def hasher(seed: int):
        prefix = f"{seed}:"
        # single-arg lambda on purpose: a 2-arg lambda would make
        # F.transform pass the array index as the second argument
        return lambda w: F.md5(F.concat(F.lit(prefix), w))

    return [
        F.coalesce(F.array_min(F.transform(ws, hasher(i))), sentinel).alias(f"mh_{i}")
        for i in range(n_hashes)
    ]


MINHASH_PRIME = 2_147_483_647  # 2^31 - 1; (a + 7b) % P stays far below 2^63


# ---------------------------------------------------------------------------
# PII scrubbing (training-data curation: redact before training)
# ---------------------------------------------------------------------------
#: name → (pattern, replacement token). Patterns are RE2-safe (no
#: backrefs / lookaround) so the SAME regex runs in Spark (Java) and
#: DuckDB (RE2) for oracle parity.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "phone": (r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b", "<PHONE>"),
    "ipv4": (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
}


def pii_counts(text: Column) -> list[Column]:
    """One ``n_{kind}`` count column per PII pattern (codegen'd
    ``regexp_count``, no UDF)."""
    return [
        F.regexp_count(text, F.lit(pat)).alias(f"n_{kind}")
        for kind, (pat, _) in PII_PATTERNS.items()
    ]


def scrub_pii(text: Column) -> Column:
    """Replace every PII match with its typed placeholder. Email runs
    first (an email contains no phone/IP match but ordering is pinned
    so the composition is deterministic)."""
    out = text
    for pat, repl in (v for v in PII_PATTERNS.values()):
        out = F.regexp_replace(out, pat, repl)
    return out
