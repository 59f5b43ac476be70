"""Text-analysis column functions for webtext pipelines.

All JVM-side ``pyspark.sql.functions`` compositions (whole-stage
codegen; no Python in the hot path). The tokenizer mirrors the
reference word_count example's semantics — lowercase alpha runs, max
64 bytes (examples/word_count.rs:131-165) — as a declarative
expression so Catalyst can push/pipe it.

Each helper returns a Column and has an exact ANSI-SQL twin used by
the DuckDB oracle in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# lowercase alpha runs; length cap 64 mirrors examples/word_count.rs:9-15
TOKEN_RE = "[a-z]+"
MAX_TOKEN_LEN = 64

_STOPWORDS = (
    "the of and to a in is it you that he was for on are as with his they i"
).split()


def tokens(col: str | Column) -> Column:
    """array<string> of lowercase alpha tokens, length <= 64."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.regexp_extract_all(F.lower(c), F.lit(TOKEN_RE), 0),
        lambda t: F.length(t) <= MAX_TOKEN_LEN,
    )


def token_count(col: str | Column) -> Column:
    """Whitespace-free token count (array size of the tokenizer)."""
    return F.size(tokens(col))


# BPE-ish pre-tokenizer: the GPT-2-style split classes reduced to
# constructs Java regex and RE2 (DuckDB) share — leading-space word /
# number / punctuation runs. This is the *pre*-tokenization stage of a
# byte-pair encoder (the merge table itself is model data, not engine
# work); counts from it track BPE token counts closely.
BPE_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_tokens(col: str | Column) -> Column:
    """array<string> of BPE-style pre-tokens (word/number/punct runs
    with leading-space attachment)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_RE), 0)


def bpe_token_count(col: str | Column) -> Column:
    return F.size(bpe_tokens(col))


def whitespace_token_count(col: str | Column) -> Column:
    """Plain whitespace-split token count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.filter(F.split(c, r"\s+"), lambda t: F.length(t) > 0))


def domain_of(url_col: str | Column) -> Column:
    """Registered host from a URL — the elephant-flow key for webtext.

    substring_index chain instead of a regex: ~4x cheaper in the JVM
    hot path (regexp_extract was the dominant cost of the domain-topk
    scaling benchmark). Strips scheme, path, query/fragment, port and
    userinfo."""
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    host = F.substring_index(F.substring_index(c, "://", -1), "/", 1)
    host = F.substring_index(F.substring_index(host, "?", 1), "#", 1)
    return F.substring_index(F.substring_index(host, "@", -1), ":", 1)


def char_ngrams(col: str | Column, n: int = 5) -> Column:
    """array<string> of character n-grams (shingles) for Jaccard/MinHash."""
    c = F.col(col) if isinstance(col, str) else col
    idx = F.sequence(F.lit(1), F.greatest(F.length(c) - F.lit(n - 1), F.lit(0)))
    return F.when(F.length(c) < n, F.array().cast("array<string>")).otherwise(
        F.transform(idx, lambda i: c.substr(i, F.lit(n)))
    )


def quality_score(col: str | Column) -> Column:
    """Heuristic document quality in [0,1]: penalize extreme length,
    high punctuation density, and low stopword ratio. Deterministic,
    SQL-expressible (oracle twin in __spark_entry__.py)."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    n_tokens = token_count(c)
    punct = F.length(F.regexp_replace(c, r"[^!-/:-@\[-`{-~]", ""))
    stop_hits = F.size(F.filter(tokens(c), lambda t: t.isin(_STOPWORDS)))
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = stop_hits / F.greatest(n_tokens, F.lit(1))
    len_ok = F.when((n_chars >= 20) & (n_chars <= 20000), F.lit(1.0)).otherwise(0.5)
    return F.round(
        len_ok * (1.0 - F.least(punct_ratio * 4, F.lit(1.0))) * (0.5 + F.least(stop_ratio * 2, F.lit(0.5))),
        4,
    )


def simhash64(col: str | Column) -> Column:
    """True 64-bit SimHash over the token multiset, fully JVM-side.

    One ``aggregate()`` pass over the token array maintains a 64-lane
    vote vector (each token's xxhash64 bit votes +1/-1 per lane); the
    signature packs the vote signs MSB-first with a Horner fold. No
    Python UDF, no per-bit re-scan of the token array (the earlier
    formulation re-filtered the tokens once per bit, which is why it
    stopped at 16 bits).
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    # per-lane bitmasks as literals (shift functions need literal bit
    # counts; bitwiseAND accepts a column) — bit 63 is the sign bit
    masks = F.array(
        *[F.lit(1 << i).cast("long") for i in range(63)],
        F.lit(-(1 << 63)).cast("long"),
    )
    votes = F.aggregate(
        toks,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, t: F.zip_with(
            acc,
            F.transform(
                masks,
                lambda m: F.when(F.xxhash64(t).bitwiseAND(m) != 0, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long"),
            ),
            lambda a, b: a + b,
        ),
    )
    # pack sign bits by summing the winning lanes' masks: lanes are
    # disjoint bits (lane 63's mask is the negative sign-bit literal),
    # so the sum is exact and can never overflow under ANSI mode
    return F.aggregate(
        F.zip_with(
            votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def doc_fingerprint(col: str | Column) -> Column:
    """Deterministic 64-bit document fingerprint (content hash).

    xxhash64 of the normalized text — the exact-dedup key. (A rolling
    Rabin-Karp variant lives in operators/dedup.py for near-dup.)
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(F.lower(F.regexp_replace(c, r"\s+", " ")))


_LANG_FAMS = {
    "en": ["the", "and", "of", "to", "is", "you", "that"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ich"],
    "fr": ["le", "la", "les", "et", "est", "que", "je"],
    "es": ["el", "la", "los", "que", "es", "y", "no"],
}


def lang_scores(col: str | Column) -> Column:
    """array<int> of per-family stopword hit counts — ONE pass over the
    token array (a single aggregate fold), so the tokenizer regex is
    evaluated once per row instead of once per family."""
    c = F.col(col) if isinstance(col, str) else col
    return F.aggregate(
        tokens(c),
        F.array_repeat(F.lit(0), len(_LANG_FAMS)),
        lambda acc, t: F.zip_with(
            acc,
            F.array(*[t.isin(ws).cast("int") for ws in _LANG_FAMS.values()]),
            lambda a, b: a + b,
        ),
    )


def lang_from_scores(scores_col: str | Column) -> Column:
    """argmax family (earlier families win ties) or 'und' when no
    stopword hit. Evaluate ``lang_scores`` into a named column first
    (two-stage select) so the fold isn't duplicated per reference."""
    s = F.col(scores_col) if isinstance(scores_col, str) else scores_col
    langs = list(_LANG_FAMS)
    best = F.array_max(s)
    expr = F.lit("und")
    # reverse order so earlier families win ties deterministically
    for i in reversed(range(len(langs))):
        expr = F.when((F.get(s, i) == best) & (best > 0), F.lit(langs[i])).otherwise(
            expr
        )
    return expr
