"""Text analysis primitives: tokenization, shingling, counting,
fingerprinting, quality scoring (SURVEY.md §2.8 "Text analysis").

Everything is Catalyst built-ins over string/array columns — no Python
UDFs — so the hot path stays inside whole-stage codegen and scales
linearly with input splits (no shuffle except where a groupBy demands
one).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Word-or-punctuation tokens: a cheap BPE-ish pre-tokenizer split.
TOKEN_REGEX = r"\w+|[^\w\s]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization → array<string>."""
    return F.split(col, r"\s+")


def regex_tokens(col: Column | str) -> Column:
    """BPE-ish regex tokenization (words + punctuation runs)."""
    return F.regexp_extract_all(
        col if isinstance(col, Column) else F.col(col), F.lit(TOKEN_REGEX), 0
    )


def shingles(tok_col: Column, k: int = 3, sep: str = " ") -> Column:
    """k-token shingles of a token array (array<string> → array<string>).

    Built as a zip_with fold over k shifted O(n) slices of the token
    array — ~5× faster than the transform-with-per-element-slice
    formulation, which allocates a k-array per shingle inside the
    (interpreted) higher-order-function evaluator.
    """
    n = F.size(tok_col)
    m = F.greatest(n - (k - 1), F.lit(0))
    parts = [F.slice(tok_col, i + 1, m) for i in range(k)]
    out = parts[0]
    for p in parts[1:]:
        out = F.zip_with(out, p, lambda a, b: F.concat_ws(sep, a, b))
    return F.when(n >= k, out).otherwise(F.array().cast("array<string>"))


def fingerprint(col: Column | str) -> Column:
    """Canonical document fingerprint: md5 of the sorted distinct token
    set — robust to token order (the classic 'fingerprint' key for
    clustering near-identical records)."""
    toks = tokens(col)
    canon = F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))
    return F.md5(canon)


def winnow_fingerprints(col: Column | str, k: int = 5, w: int = 8) -> Column:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003 —
    the MOSS algorithm): Karp-Rabin rolling hashes of character k-grams,
    then the minimum hash of every w-hash window, deduplicated and
    sorted → array<bigint>.

    The k-gram hash is the exact polynomial Σ code·257^j (no modulus —
    k=5 ASCII codes stay < 2^41, so the arithmetic is exact in BIGINT
    and reproducible in any engine). Both stages use the shifted-slice
    zip_with fold (k, resp. w, O(n) slices) instead of per-element
    nested slices — the fast HOF shape on interpreted lambdas.
    Documents shorter than one window keep a single global-min
    fingerprint; shorter than k chars get an empty set.
    """
    c = col if isinstance(col, Column) else F.col(col)
    codes = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("bigint"))
    n = F.size(codes)
    m = F.greatest(n - (k - 1), F.lit(0))
    parts = [F.slice(codes, i + 1, m) for i in range(k)]
    h = parts[0]
    for p in parts[1:]:
        h = F.zip_with(h, p, lambda a, b: a * 257 + b)
    hashes = F.when(n >= k, h).otherwise(F.array().cast("array<bigint>"))
    nh = F.size(hashes)
    mw = F.greatest(nh - (w - 1), F.lit(0))
    wparts = [F.slice(hashes, i + 1, mw) for i in range(w)]
    mn = wparts[0]
    for p in wparts[1:]:
        mn = F.zip_with(mn, p, lambda a, b: F.least(a, b))
    mins = (
        F.when(nh >= w, mn)
        .when(nh > 0, F.array(F.array_min(hashes)))
        .otherwise(F.array().cast("array<bigint>"))
    )
    return F.array_sort(F.array_distinct(mins))


def winnow_fingerprint_digests(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 8,
) -> DataFrame:
    """Winnowing fingerprints as a vectorized Arrow kernel →
    (id_col, n_fp: bigint, fp_digest: string).

    Same algorithm as :func:`winnow_fingerprints` (exact polynomial
    Σ code·257^j, min of each w-hash window, distinct+sorted), but the
    per-character work runs as numpy array arithmetic inside
    ``mapInPandas`` instead of interpreted Catalyst HOF lambdas — the
    fold shape costs ~(k+w)·n lambda invocations per document, which
    measured 15-40× slower than the C loop here. Still strictly
    map-side: zero shuffles, one pass over the scan, trivially
    data-parallel at any scale. Codepoints come from the UTF-32 encoding
    of the string, which equals ``ascii()``/``unicode()`` semantics per
    character on both engines.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    in_schema = df.select(id_col, text_col).schema
    out_schema = StructType(
        [
            in_schema[id_col],
            StructField("n_fp", LongType(), False),
            # nullable: the empty fingerprint set digests to NULL (r11
            # NULL contract), never to md5('') — matching the oracle,
            # where array_to_string of an empty/NULL list is NULL.
            StructField("fp_digest", StringType(), True),
        ]
    )

    def kern(batches):
        import hashlib

        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        pows = np.array([257 ** (k - 1 - j) for j in range(k)], dtype=np.int64)
        for pdf in batches:
            n_fp, digests = [], []
            for s in pdf[text_col]:
                if not isinstance(s, str):  # NULL text → empty set
                    s = ""
                codes = np.frombuffer(
                    s.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                n = codes.size
                if n < k:
                    mins = np.empty(0, dtype=np.int64)
                else:
                    h = sliding_window_view(codes, k) @ pows
                    if h.size >= w:
                        mins = sliding_window_view(h, w).min(axis=1)
                    else:
                        mins = h.min(keepdims=True)
                u = np.unique(mins)
                n_fp.append(u.size)
                digests.append(
                    hashlib.md5(
                        ",".join(str(int(x)) for x in u).encode()
                    ).hexdigest()
                    if u.size
                    else None  # NULL text / sub-k text: no fingerprint
                )
            yield pd.DataFrame(
                {id_col: pdf[id_col], "n_fp": n_fp, "fp_digest": digests}
            )

    return df.select(id_col, text_col).mapInPandas(kern, out_schema)


# ---------------------------------------------------------------------------
# PII scrubbing (training-data hygiene): emails, phone-ish numbers, IPv4.
# Patterns stay in the RE2-compatible subset (no lookaround) so the
# DuckDB oracle can run the IDENTICAL regex; both engines replace ALL
# occurrences. Order matters: emails first (an email's digits must not
# be half-eaten by a later pass), then IPv4 before phones (the phone
# pattern can't span dots, so it could otherwise eat fragments of a
# dotted quad between the dots).
# ---------------------------------------------------------------------------
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d()\- ]{6,}\d", "<PHONE>"),
)


def redact_pii(col: Column | str) -> Column:
    """Replace each PII class with its tag — pure Catalyst
    regexp_replace chain (codegen, map-only, no Python)."""
    out = F.col(col) if isinstance(col, str) else col
    for _name, pat, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tag)
    return out


def count_pii(col: Column | str) -> dict[str, Column]:
    """{kind: count column} — occurrences of each PII class, for
    corpus-level audit aggregates."""
    c = F.col(col) if isinstance(col, str) else col
    out: dict[str, Column] = {}
    scrubbed = c
    for name, pat, tag in PII_PATTERNS:
        # count on the text as the redaction pass would see it, so the
        # classes don't double-count each other's matches
        out[name] = F.size(F.regexp_extract_all(scrubbed, F.lit(pat), 0))
        scrubbed = F.regexp_replace(scrubbed, pat, tag)
    return out
