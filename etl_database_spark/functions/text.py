"""Text-analysis operators for large-scale training-data pipelines.

All pure Column expressions (JVM-side, whole-stage codegen) — no Python
UDFs, so these run at full scan speed over 100 TB of documents:

- token counting (whitespace split),
- quality scoring (length / punctuation / stopword / uppercase ratios),
- language ID (stopword-occurrence n-gram heuristic),
- document fingerprinting (normalized md5 + rolling 64-bit hash).

Design note: token/word counting tokenizes once and filters the array
(`split` + `filter` — mirrored in SQL as string_split_regex +
list_filter, identical semantics in every engine); the
length-difference trick ``(len(s) - len(replace(s, pat, '')))`` is
reserved for counting separators (doc_token_stats), where
non-overlapping replace semantics are exact.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Minimal stopword panels per language for the heuristic language ID.
# Chosen to be disjoint-ish, high-frequency function words.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "es": ["el", "la", "de", "que", "los", "una", "por", "con"],
    "de": ["der", "die", "und", "das", "nicht", "ein", "mit", "für"],
    "fr": ["le", "la", "les", "des", "est", "dans", "pour", "une"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不"],
}


def token_count(col) -> Column:
    """Whitespace-token count; 0 for empty/blank strings."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    ).cast("long")


# BPE-style pre-tokenizer classes (the GPT-2 pattern's portable core):
# letter runs, single digits, single non-space symbols. Deliberately
# restricted to constructs Java regex and RE2 read identically, so the
# count is engine-portable (≈ what a BPE tokenizer's pre-split yields —
# a much better length proxy than whitespace tokens on code/punctuated
# text).
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_token_count(col) -> Column:
    """Count of BPE-ish pre-tokens (JVM regexp_count, codegen)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_TOKEN_RE)).cast("long")


def word_occurrences(col, word: str) -> Column:
    """Count occurrences of ``word`` as a whitespace-delimited token:
    tokenize once, count exact matches.

    NOT the padded-replace length-difference trick: a non-overlapping
    ``replace`` scan consumes the boundary space shared by adjacent
    occurrences, so ``'the the'`` counts as 1 instead of 2. The token
    filter has no such edge and mirrors stopword_score (DuckDB form:
    ``len(list_filter(string_split_regex(TRIM(x), '\\s+'),
    t -> t = 'word'))``)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.trim(c), r"\s+")
    return F.size(F.filter(toks, lambda t: t == F.lit(word))).cast("long")


def punct_ratio(col) -> Column:
    """Fraction of characters that are ASCII punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, r"[!-/:-@\[-`{-~]", "")
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        (F.length(c) - F.length(stripped)).cast("double") / F.length(c)
    )


def upper_ratio(col) -> Column:
    """Fraction of characters that are uppercase ASCII letters."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, r"[A-Z]", "")
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        (F.length(c) - F.length(stripped)).cast("double") / F.length(c)
    )


def stopword_score(col, lang: str = "en") -> Column:
    """Count of whitespace tokens that belong to the language's
    stopword panel (language-ID signal; normalize by token_count for a
    ratio).

    One tokenize pass (``split``) + an in-memory array filter — versus
    the previous form's one full-string replace pass *per stopword*
    (8 passes per language, 40 for the 5-language panel). When several
    scores are computed in one projection the identical ``split``
    subtree is evaluated once per row (codegen subexpression
    elimination), so the scan cost is a single tokenization however
    many languages are scored.
    """
    words = LANG_STOPWORDS[lang]
    toks = F.split(F.trim(F.col(col) if isinstance(col, str) else col), r"\s+")
    return F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")


def lang_scores(col) -> dict[str, Column]:
    """Stopword score per known language."""
    return {lang: stopword_score(col, lang) for lang in LANG_STOPWORDS}


def detect_language(col) -> Column:
    """Pick the language with the highest stopword score ('und' if all 0).

    Single-Column form — each score expression is repeated inside the
    greatest/when ladder, so for wide scans prefer ``with_language``
    (computes each score once in an intermediate projection).
    """
    scores = lang_scores(col)
    langs = list(scores)
    best = F.greatest(*[scores[lang] for lang in langs])
    expr = F.when(best == 0, F.lit("und"))
    # Deterministic preference order on ties: dict order.
    for lang in langs:
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr


def with_language(df, text_col: str, out_col: str = "detected_lang"):
    """Add ``out_col`` with the detected language — two projections:
    one evaluating each stopword score once (sharing a single tokenize
    pass via subexpression elimination), one running the greatest/when
    ladder over the score columns. Same results as ``detect_language``
    with far less expression work per row."""
    from etl_database_spark.functions.partitioning import spread_scan

    langs = list(LANG_STOPWORDS)
    score_cols = {lang: f"_langscore_{lang}" for lang in langs}
    # the per-language stopword ladders tokenize every row — CPU-bound,
    # so guard against a single-row-group scan serializing them
    scored = spread_scan(df).withColumns(
        {name: stopword_score(F.col(text_col), lang) for lang, name in score_cols.items()}
    )
    best = F.greatest(*[F.col(c) for c in score_cols.values()])
    expr = F.when(best == 0, F.lit("und"))
    for lang in langs:
        expr = expr.when(F.col(score_cols[lang]) == best, F.lit(lang))
    return scored.withColumn(out_col, expr).drop(*score_cols.values())


def quality_units(col) -> Column:
    """Composite quality heuristic in integer basis points (0..10000):
    penalize very short docs, high punctuation, and stopword-free
    (non-natural) text.

    Computed entirely in integer micro-units — float-weighted sums
    differ in the last ulp across engines (FMA/associativity), which
    flips rounding on boundary values; integer arithmetic is
    bit-identical everywhere, so the oracle can mirror it exactly and
    threshold compares should happen on THIS column, not the double.
    """
    c = F.col(col) if isinstance(col, str) else col
    ntok = token_count(c)
    total_chars = F.length(c).cast("long")
    punct_chars = (
        F.length(c) - F.length(F.regexp_replace(c, r"[!-/:-@\[-`{-~]", ""))
    ).cast("long")
    stop = stopword_score(c)
    # basis points (1e-4): ≤4 decimal digits, so no post-hoc rounding is
    # ever needed (rounding a 5+-digit double differs across engines).
    m = F.lit(10_000).cast("long")
    len_u = F.least(ntok * 500, m)
    punct_u = m - F.least(
        _idiv(punct_chars * 40_000, F.greatest(total_chars, F.lit(1).cast("long"))), m
    )
    stop_u = F.least(_idiv(stop * 50_000, F.greatest(ntok, F.lit(1).cast("long"))), m)
    return _idiv(len_u * 4 + punct_u * 3 + stop_u * 3, F.lit(10).cast("long"))


def quality_score(col) -> Column:
    """``quality_units`` scaled to [0,1] (see that function's
    determinism note — compare thresholds on the units)."""
    return (quality_units(col).cast("double") / F.lit(10_000.0)).cast("double")


def exact_idiv(a: Column, b: Column) -> Column:
    """Exact integer division for nonnegative longs: (a − a mod b) / b.

    The numerator is exactly divisible, and both operands stay well
    under 2^53, so the double division is exact — identical in every
    engine (equivalent to SQL's DIV / //). THE canonical helper: the
    cross-engine bit-identical-arithmetic guarantee in text/dedup/lm
    scoring all routes through this one definition."""
    return ((a - F.pmod(a, b)) / b).cast("long")


_idiv = exact_idiv  # internal alias


def normalize_text(col) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint_md5(col) -> Column:
    """Deterministic content fingerprint: md5 of normalized text
    (portable across engines — used by the exact-dedup oracle)."""
    return F.md5(normalize_text(col))


def fingerprint_xx64(col) -> Column:
    """64-bit fingerprint via xxhash64 of normalized text (cheaper than
    md5; Spark-specific)."""
    return F.xxhash64(normalize_text(col))


def compression_ratios(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
):
    """Per-document zlib compression ratio — the CCNet/RefinedWeb-style
    quality signal: highly compressible text is repetitive/boilerplate,
    incompressible text is noise; natural prose sits in between.

    → (doc_id, n_bytes, n_compressed, ratio_permille) with
    ratio_permille = ⌊1000·compressed/raw⌋ as an exact integer (zlib
    output is deterministic for a fixed level, so the whole frame is
    reproducible — but there is no SQL zlib, so the registry entry is
    rows-only and the correctness gate is pytest against direct
    ``zlib.compress``).

    This is the functions layer's one Pandas slow path: compression
    is genuinely inexpressible as a column expression. Arrow streams
    batches; Python touches each payload once; cost is one scan, no
    shuffle."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("n_bytes", T.LongType(), True),
            T.StructField("n_compressed", T.LongType(), True),
            T.StructField("ratio_permille", T.LongType(), True),
        ]
    )

    def process(batches):
        import zlib

        for pdf in batches:
            rows = []
            for _id, text in zip(pdf[id_col], pdf[text_col]):
                raw = (text or "").encode("utf-8")
                comp = zlib.compress(raw, level)
                n = len(raw)
                rows.append(
                    {
                        "doc_id": int(_id),
                        "n_bytes": n,
                        "n_compressed": len(comp),
                        "ratio_permille": (1000 * len(comp)) // n if n else 0,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return df.select(id_col, text_col).mapInPandas(process, schema)
