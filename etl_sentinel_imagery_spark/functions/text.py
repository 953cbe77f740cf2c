"""Text scalar functions: tokenization and engine-portable integer hashing.

The dedup/similarity operators (MinHash, SimHash, fingerprinting) need a
hash function that is (a) computed JVM-side with built-in expressions (no
Python UDF in the hot path) and (b) exactly reproducible in ANSI SQL so
the DuckDB oracle can state the expected answer. Java's String.hashCode
recurrence (h*31 + char) modulo the Mersenne prime 2^31-1 satisfies both:
pure integer arithmetic, no overflow in int64, identical left-fold in
Spark's ``aggregate`` and DuckDB's ``list_reduce``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Modulus for all polynomial hashes — Mersenne prime 2^31 - 1.
HASH_MOD = 2147483647
#: Base for the character fold (Java String.hashCode's multiplier).
HASH_BASE = 31


def max_run_length(arr: Column) -> Column:
    """Count of the most frequent element of a string array = longest
    equal run in ``array_sort(arr)`` — one O(n log n) sort + O(n)
    sequential (prev, run, best) fold, replacing the O(n × n_distinct)
    transform-and-filter formulation (the round-2 text_profile hot
    spot). Initial ``prev`` is NULL so the first element (including an
    empty string) always starts a run of 1: ``x == NULL`` is NULL and
    F.when sends it to the otherwise branch."""
    step = lambda acc, t: F.struct(  # noqa: E731
        t.alias("prev"),
        F.when(t == acc.getField("prev"), acc.getField("run") + F.lit(1))
        .otherwise(F.lit(1))
        .alias("run"),
        F.greatest(
            acc.getField("best"),
            F.when(t == acc.getField("prev"), acc.getField("run") + F.lit(1))
            .otherwise(F.lit(1)),
        ).alias("best"),
    )
    return F.aggregate(
        F.array_sort(arr),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        step,
        lambda acc: acc.getField("best"),
    )


def tokens(c: Column | str) -> Column:
    """Whitespace tokenization; drops empty strings (Java split keeps a
    trailing '' under limit=-1, which DuckDB's string_split does not)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.filter(F.split(col, " "), lambda t: t != F.lit(""))


def polyhash(c: Column | str) -> Column:
    """Polynomial rolling hash of a string's characters, mod 2^31-1.

    Implemented as transform(sequence) + aggregate so the fold order is
    the explicit left-to-right character order — bit-identical to the
    DuckDB oracle's list_reduce formulation.
    """
    col = F.col(c) if isinstance(c, str) else c
    chars = F.transform(
        F.sequence(F.lit(1), F.length(col)),
        lambda i: F.ascii(col.substr(i, F.lit(1))),
    )
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * HASH_BASE + ch) % HASH_MOD,
    )


def polyhash_sql(expr: str) -> str:
    """DuckDB SQL equivalent of :func:`polyhash` over a string expression."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, length({expr})+1), "
        f"i -> CAST(ascii(substr({expr}, i, 1)) AS BIGINT))), "
        f"(acc, ch) -> (acc * {HASH_BASE} + ch) % {HASH_MOD})"
    )


def word_ngrams(c: Column | str, n: int) -> Column:
    """Distinct word n-grams as '_'-joined strings (order-insensitive set).

    '_' never occurs inside the lowercase-word tokens, so the join is
    collision-free — and keeps gram strings pure ASCII so that
    :func:`polyhash` over a gram is portable (F.ascii on multibyte chars
    is not guaranteed to match other engines)."""
    toks = tokens(c)
    # Guard: sequence(1, 0) would produce a DESCENDING [1, 0] — short docs
    # must yield an empty gram set instead.
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws("_", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


#: PII patterns, engine-portable (same semantics in Java regex and RE2):
#: plain character classes only — no lookbehind, no POSIX classes.
PII_PATTERNS = {
    # (?i) — case-insensitive inline flag, identical in Java regex and
    # RE2 — so John@Company.ORG redacts like john@company.org
    "email": r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+",
    # formatted numbers require a leading '+'/'(' OR a ≥9-digit pure run;
    # this keeps 'yyyy-mm-dd hh:mm' date+time strings (no +/(, digit runs
    # of ≤4) from being falsely redacted. RE2 has no lookaround, so the
    # date exclusion must come from the anchors, not a negative assertion.
    "phone": r"[(+][0-9][0-9()\- ]{6,}[0-9]|[0-9]{9,}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}

#: normalization regexes shared by normalize_text and its SQL mirror
#: (interpolated in queries.text_q) so the engines cannot drift
NORM_CTRL_PATTERN = r"[\x00-\x1f\x7f]"
NORM_WS_PATTERN = r"\s+"


def scrub_pii(c: Column | str) -> Column:
    """Redact PII spans with typed placeholders — the training-data
    scrubbing pass. Chained JVM regexp_replace (replaces ALL matches),
    no Python in the path."""
    col = F.col(c) if isinstance(c, str) else c
    for name, pat in PII_PATTERNS.items():
        col = F.regexp_replace(col, pat, f"<{name}>")
    return col


def count_pii(c: Column | str) -> Column:
    """Number of spans :func:`scrub_pii` redacts: each family counts on
    the text ALREADY scrubbed by earlier families, so a span matching
    two families (an IP inside an email's domain) counts once — n_pii
    always equals the placeholder count in the scrubbed output."""
    col = F.col(c) if isinstance(c, str) else c
    total = None
    for name, pat in PII_PATTERNS.items():
        n = F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))
        total = n if total is None else total + n
        col = F.regexp_replace(col, pat, f"<{name}>")
    return total


def normalize_text(c: Column | str) -> Column:
    """Canonical text form for dedup/fingerprint stability: lowercase,
    control chars stripped, runs of whitespace collapsed, trimmed."""
    col = F.col(c) if isinstance(c, str) else c
    lowered = F.lower(col)
    no_ctl = F.regexp_replace(lowered, NORM_CTRL_PATTERN, " ")
    collapsed = F.regexp_replace(no_ctl, NORM_WS_PATTERN, " ")
    return F.trim(collapsed)


def chunk_documents(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 8,
):
    """Split documents into overlapping token windows — the training-data
    chunking pass (context-window packing prep). Pure JVM expressions:
    tokenize ONCE (behind a repartition materialization barrier —
    projection collapse would otherwise inline the tokenize into the
    per-window slice lambda and re-split the whole document once per
    window, the recompute hazard operators.dedup documents for MinHash),
    then sequence of window starts → slice per window → posexplode.
    A non-empty doc shorter than one window yields exactly one chunk;
    empty/whitespace-only docs yield zero chunks. n_chunk_tokens is
    arithmetic (least(chunk_tokens, n − start + 1)) — no re-tokenize.

    Output: (id, chunk_idx, chunk_text, n_chunk_tokens).
    """
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    par = df.sparkSession.sparkContext.defaultParallelism
    tok_df = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .filter(F.size("_toks") > 0)
        .repartition(par)
    )
    n = F.size(F.col("_toks"))
    # window starts: 1, 1+stride, ... while start <= max(n - overlap, 1)
    starts = F.sequence(
        F.lit(1),
        F.greatest(n - F.lit(overlap), F.lit(1)),
        F.lit(stride),
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            F.concat_ws(" ", F.slice(F.col("_toks"), s, chunk_tokens)).alias(
                "txt"
            ),
            F.least(F.lit(chunk_tokens), n - s + 1).alias("n_toks"),
        ),
    )
    return tok_df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "chunk"),
    ).select(
        id_col,
        "chunk_idx",
        F.col("chunk.txt").alias("chunk_text"),
        F.col("chunk.n_toks").alias("n_chunk_tokens"),
    )
