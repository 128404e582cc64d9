"""Text column expressions (SURVEY §2.7 F1–F3, F8 + shingling for dedup).

All pure Catalyst expressions — no Python UDFs. Tokenization replicates the
reference's whitespace split (`embeddings/encoder.py:94` ``txt.split()``):
lowercase is NOT applied (the reference doesn't), empty tokens are dropped.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Java \s separator class, precompiled for the executor-side kernels
_WS_ASCII = _re.compile(r"\S+", _re.ASCII)


def tokenize(col: Column | str) -> Column:
    """Whitespace tokenization, dropping empty strings.

    The separator class is Java regex ``\\s`` = ``[ \\t\\n\\x0b\\f\\r]``
    (ASCII only — Java \\s does NOT match Unicode whitespace such as NBSP
    without the UNICODE_CHARACTER_CLASS flag).  Python-side kernels that
    claim parity with this expression must use :func:`py_tokenize`, NOT
    ``str.split()`` — ``str.split()`` also splits on \\xa0/\\x85/\\x1c-\\x1f/
    \\u2028 etc., diverging on real crawled web text (r8 ADVICE).
    Reference parity: `embeddings/encoder.py:94` ``txt.split()`` (the
    reference's corpora are ASCII, where the two classes agree).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != F.lit(""))


def py_tokenize(text: str) -> list[str]:
    """Executor-side (plain-Python) twin of :func:`tokenize`.

    ``re.findall(r"\\S+", ..., flags=re.ASCII)`` keeps exactly the Java
    ``\\s`` separator class (``[ \\t\\n\\x0b\\f\\r]``), so Arrow-kernel
    "fast" faces stay BITWISE-identical to their Catalyst expression faces
    on any input, including Unicode whitespace (NBSP et al.) that
    ``str.split()`` would additionally split on.  Shared by the dsir /
    dedup / encode fast kernels (the pattern bpe.py established).
    """
    return _WS_ASCII.findall(text)


def query_snippet(text: Column | str, length: int = 200) -> Column:
    """Query text = first ``length`` chars of a document's text
    (reference `experiments/create_qs.py:17`)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.substring(c, 1, length)


def token_shingles(tokens: Column, n: int = 3, sep: str = " ") -> Column:
    """n-gram shingles over a token array: ``["a b c", "b c d", ...]``.

    Built with ``transform`` over an index sequence + ``slice`` — stays in
    codegen. Documents shorter than ``n`` tokens yield a single shingle of
    the whole text so they still participate in MinHash.
    """
    n_sh = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: F.array_join(F.slice(tokens, i, n), sep),
    )


def char_ngrams(col: Column | str, n: int = 4) -> Column:
    """Character n-grams of a string (for language-ID / fingerprinting)."""
    c = F.col(col) if isinstance(col, str) else col
    n_gr = F.greatest(F.length(c) - F.lit(n - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), n_gr), lambda i: F.substring(c, i, n))


def normalize_text(col: Column | str) -> Column:
    """C4-style ASCII text normalization for dedup keys: lowercase,
    punctuation -> space, whitespace runs collapsed, trimmed. Case and
    punctuation variants of the same content ("Hello, World!" vs
    "hello world") normalize to one string; [a-z0-9] + whitespace is
    the identical character class in Java regex (Spark) and RE2
    (DuckDB), so the key is engine-portable."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))
