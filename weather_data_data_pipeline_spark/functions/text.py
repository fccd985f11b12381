"""Text-analysis operators for the training-data pipeline surface.

All hot-path operators are built-in Column expressions (JVM, codegen) —
tokenization, counting, ratios never leave the executor or enter Python.
Only the rolling-hash fingerprint uses a Pandas UDF (Arrow-batched), since
a character-level positional fold has no built-in equivalent.

Scale: every function here is embarrassingly parallel per row — no
shuffle, no skew concern; they pipeline into the same stage as the scan.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")

# Distinctive-token profiles for the n-gram/stopword language heuristic.
# Real deployments would ship char-trigram frequency profiles; the method
# (score = weighted evidence count per language, argmax) is the same.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "that", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit"),
    "es": ("el", "la", "los", "las", "que", "es", "una"),
    "fr": ("le", "la", "les", "est", "une", "dans", "pour"),
    "zh": ("的", "是", "了", "在", "我", "有", "和"),
}


def tokens(col: Column | str, sep: str = " ") -> Column:
    """Whitespace tokenization as an array column (JVM-side split)."""
    return F.split(col if isinstance(col, Column) else F.col(col), sep)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count — word runs plus individual punctuation
    marks (``\\w+|[^\\w\\s]``), the usual cheap proxy for BPE token
    counts at corpus scale. Expressed as regexp_extract_all (RE2-safe,
    no lookarounds) so engine and oracle count identically."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.size(F.regexp_extract_all(c, F.lit(r"\w+|[^\w\s]"), 0))


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    """Fraction of tokens that are stopwords — a standard quality signal."""
    toks = tokens(col)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return n_stop / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(col: Column | str) -> Column:
    c = col if isinstance(col, Column) else F.col(col)
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return n_punct / F.greatest(F.length(c), F.lit(1))


def mean_token_length(col: Column | str) -> Column:
    toks = F.filter(tokens(col), lambda t: t != "")
    total = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    )
    # mean over ZERO tokens is NULL, not 0.0 — every SQL twin computes
    # list_sum([]) / greatest(0, 1) = NULL, and a 0.0 here silently
    # flipped downstream band rules from NULL to False on empty text
    # (r14 NULL audit); NULL text already propagates via total = NULL
    return F.when(F.size(toks) == 0, F.lit(None).cast("double")).otherwise(
        total / F.size(toks)
    )


def quality_score(col: Column | str) -> Column:
    """Composite document-quality score in [0,1]: length band, stopword
    presence, low punctuation density. Mirrors the usual pretraining-data
    heuristics (C4/Gopher-style rules) as one codegen'd expression."""
    c = col if isinstance(col, Column) else F.col(col)
    length_ok = F.when((F.length(c) >= 50) & (F.length(c) <= 100_000), 1.0).otherwise(0.0)
    stop_ok = F.when(stopword_ratio(c) >= 0.05, 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(c) <= 0.2, 1.0).otherwise(0.0)
    word_len = mean_token_length(c)
    word_ok = F.when((word_len >= 2) & (word_len <= 12), 1.0).otherwise(0.0)
    return (length_ok + stop_ok + punct_ok + word_ok) / F.lit(4.0)


def language_id(col: Column | str) -> Column:
    """Heuristic language ID: argmax over per-language evidence counts
    (profile-token hits per language). Pure Column expressions — builds a
    map of scores and picks the best, deterministically tie-broken by
    language code. 'und' (undetermined) when nothing scores."""
    toks = tokens(col)

    def hits(words: tuple[str, ...]):
        # closure (not a default arg): a 2-arg lambda would be treated as
        # the (element, index) higher-order-function form
        return lambda t: t.isin(*words)

    scores = [
        (lang, F.size(F.filter(toks, hits(words))))
        for lang, words in sorted(LANG_PROFILES.items())
    ]
    # struct(score, lang) array → array_max picks (max score, max lang);
    # negative lang ordering would need custom compare, so tie-break is
    # lexicographically-last language with the top score.
    best = F.array_max(
        F.array(*[F.struct(s.alias("score"), F.lit(lang).alias("lang")) for lang, s in scores])
    )
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


@pandas_udf(LongType())  # DataType instance: string DDL would need a live context at import
def rolling_fingerprint(texts: pd.Series) -> pd.Series:
    """Polynomial rolling hash over UTF-8 bytes, mod 2^61-1 (Arrow-batched
    Pandas UDF — character-positional fold isn't expressible as a built-in).
    Deterministic across runs/partitions, suitable as a shard-stable
    document fingerprint.

    The result is built as NULLABLE Int64 explicitly: a plain
    ``texts.map(...)`` series containing a None coerces to float64 on
    the Arrow boundary, silently rounding EVERY fingerprint in that
    batch to 1-in-2^53 precision (ulp 256 at 2^60 magnitudes) — one
    NULL document corrupted its batch-mates' fingerprints (r14 NULL
    audit, scripts/null_audit.py)."""
    MOD = (1 << 61) - 1
    BASE = 257

    def fp(s: str) -> int:
        h = 0
        for b in s.encode("utf-8"):
            h = (h * BASE + b) % MOD
        return h

    return pd.Series(
        [fp(s) if s is not None else None for s in texts], dtype="Int64"
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    passage/window stage of a training-data pipeline (context-length
    packing, retrieval corpus building).

    Chunk c covers tokens [c*stride, c*stride + chunk_tokens) with
    stride = chunk_tokens - overlap; the last chunk keeps the tail.
    Executed entirely JVM-side: split -> sequence over chunk starts ->
    slice/concat per chunk -> explode. One scan, no shuffle, no Python;
    output rows are (id, chunk_idx, chunk_text, n_tokens).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    n = F.size(toks)
    # number of chunks: ceil(max(n - overlap, 1) / stride), at least 1
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / F.lit(stride)).cast("int"),
        F.lit(1),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda c: F.struct(
            c.cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(toks, c * stride + 1, chunk_tokens)).alias(
                "chunk_text"
            ),
            F.least(n - c * stride, F.lit(chunk_tokens)).cast("int").alias(
                "n_tokens"
            ),
        ),
    )
    return (
        df.where(n > 0)
        .select(F.col(id_col), F.explode(chunks).alias("c"))
        .select(id_col, "c.chunk_idx", "c.chunk_text", "c.n_tokens")
    )


def deterministic_sample(
    df: DataFrame,
    fraction_by_stratum: dict[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "v1",
) -> DataFrame:
    """Reproducible stratified sampling for data mixing: a row is kept
    when xxhash64(salt, id) lands below its stratum's fraction of the
    hash space. Properties that matter at 100 TB:

    - deterministic and cluster-invariant (pure function of id+salt —
      re-runs, retries, and different partitionings keep the same rows);
    - a row's fate is stable under fraction increases (raising 0.1→0.2
      only ADDS rows — the kept set is a prefix of the hash order), so
      data mixes can be grown without resampling everything;
    - no shuffle, no sort, no count: one scan with a codegen'd filter.

    Strata missing from the dict are dropped (fraction 0).
    """
    bucket = F.pmod(F.xxhash64(F.lit(salt), F.col(id_col)), F.lit(1_000_000))
    frac = None
    for stratum, f in fraction_by_stratum.items():
        cond = (F.col(stratum_col) == stratum, F.lit(int(f * 1_000_000)))
        frac = F.when(*cond) if frac is None else frac.when(*cond)
    frac = frac.otherwise(F.lit(0)) if frac is not None else F.lit(0)
    return df.where(bucket < frac)


def tf_idf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document top-k TF-IDF terms — the keyword/feature-extraction
    stage of a corpus pipeline.

    Plan shape (the part that matters at 100 TB): one tokenize+explode
    scan feeds BOTH the term-frequency aggregate (shuffle on (doc, term))
    and the document-frequency aggregate (shuffle on term); the df/idf
    table is vocabulary-sized — orders of magnitude smaller than the
    corpus — so it joins back as a broadcast, and the corpus-sized tf
    relation is shuffled exactly once more for the per-doc top-k window.

    Ranking is integer-deterministic: (tf DESC, df ASC, term ASC) —
    locally frequent, globally rare, alphabetical tie-break — so row
    selection never depends on float comparison; the tfidf score
    (tf * ln(n_docs/df), rounded 4) is carried as a value, not used to
    rank.
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    tok = df.select(F.col(id_col), F.explode(toks).alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("term").agg(F.count_distinct(id_col).alias("df"))
    n_docs = tok.agg(F.count_distinct(id_col).alias("n_docs"))
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ),
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "rnk")
    )


def md5_threshold(fraction: float) -> str:
    """32-hex-char threshold such that md5(x) < threshold keeps ~fraction
    of a uniform hash space. Comparing lowercase hex strings
    lexicographically == comparing the 128-bit values numerically, and
    every engine renders md5 identically — so the same literal threshold
    reproduces the same sample anywhere (Spark, DuckDB, MySQL, ...).
    Quantized to 8 hex digits (error < 2^-32). fraction=1.0 returns a
    sentinel lexicographically ABOVE every hex digest ('g' > 'f') —
    format(2**32) would be 9 chars and the length mismatch silently
    breaks the string comparison (keeps ~6% instead of all)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    if fraction >= 1.0:
        return "g" + "0" * 31
    return format(int(fraction * (1 << 32)), "08x") + "0" * 24


def deterministic_sample_portable(
    df: DataFrame,
    fraction_by_stratum: dict[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "v1",
) -> DataFrame:
    """Engine-portable twin of :func:`deterministic_sample`: keeps a row
    when md5(salt || id) — compared as a hex string — falls below the
    stratum's threshold. Same scale properties (deterministic,
    partition-invariant, monotone under fraction growth, single codegen'd
    filter), but the keep/drop decision is reproducible on ANY engine
    with an md5 builtin, which is what lets the DuckDB oracle hash-check
    it. Prefer the xxhash64 variant in production (no cryptographic hash
    in the hot path); use this one when the sample must be re-derivable
    outside Spark."""
    digest = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    keep = None
    for stratum, frac in fraction_by_stratum.items():
        cond = (
            F.col(stratum_col) == stratum,
            digest < F.lit(md5_threshold(frac)),
        )
        keep = F.when(*cond) if keep is None else keep.when(*cond)
    keep = keep.otherwise(F.lit(False)) if keep is not None else F.lit(False)
    return df.where(keep)


# PII / pattern scrubbing. Patterns are Java-regex (Spark) that also
# parse identically under RE2/PCRE — no lookbehind, no backreferences —
# so the same literal works in DuckDB's regexp_replace(..., 'g').
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\d{3}-\d{2}-\d{4}",
    "phone": r"\+?\d[\d()\- ]{7,}\d",
    "number": r"\d+",
}


def redact(
    col: Column | str,
    patterns: list[str],
    replacement: str = "[REDACTED]",
) -> Column:
    """Replace every match of every pattern with ``replacement`` —
    chained codegen'd regexp_replace, order-sensitive (apply the most
    specific pattern first: an SSN is also three number runs). Pure
    column expression: no shuffle, scales with the scan."""
    out = F.col(col) if isinstance(col, str) else col
    for p in patterns:
        out = F.regexp_replace(out, p, replacement)
    return out


def _blocklist_literal_array(words: tuple[str, ...]) -> Column:
    """Blocklist words as ONE parsed literal array expression (the py4j
    plan-build lesson: per-element F.lit crosses the bridge per word).

    Words are interpolated into an F.expr string, so they are escaped
    (backslash first, then single quote — the two characters Spark's
    SQL string literal interprets) and validated: a real badwords list
    routinely contains apostrophes, and an unescaped one either breaks
    the parse or injects arbitrary SQL into the plan (ADVICE r8 #1).
    Multi-word, empty, or whitespace-bearing entries can never match a
    single whitespace token — raising beats silently weakening the
    filter."""
    for w in words:
        if not w or any(ch.isspace() for ch in w):
            raise ValueError(
                f"blocklist entry {w!r} is empty or contains whitespace — "
                "token-exact matching compares single whitespace-split "
                "tokens, so this entry could never match; split it into "
                "single-token entries"
            )
    quoted = ",".join(
        "'" + w.lower().replace("\\", "\\\\").replace("'", "\\'") + "'"
        for w in words
    )
    return F.expr(f"array({quoted})")


def blocklist_hits(col: Column | str, words: tuple[str, ...]) -> Column:
    """Count of whitespace tokens that appear on the blocklist — the
    token-EXACT counterpart of the regex :func:`redact`/:func:`match_count`
    pair (a regex over raw text also matches inside longer words; the
    C4-style badwords filter is defined over whole tokens). The list
    ships as one parsed literal array (the py4j plan-build lesson),
    escaped and validated by :func:`_blocklist_literal_array`;
    comparison is case-insensitive. NULL text counts 0 hits."""
    c = F.col(col) if isinstance(col, str) else col
    arr = _blocklist_literal_array(words)
    return F.size(
        F.filter(
            F.split(F.lower(F.coalesce(c, F.lit(""))), " "),
            lambda t: F.array_contains(arr, t),
        )
    )


def blocklist_redact_tokens(
    col: Column | str,
    words: tuple[str, ...],
    mask: str = "[REDACTED]",
) -> Column:
    """Rebuild the text with every blocklisted token replaced by
    ``mask`` (token-exact, case-insensitive match; original casing of
    the surviving tokens preserved; single-space join like the span
    machinery). NULL text stays NULL — a fully-masked document is
    distinguishable from a missing one."""
    c = F.col(col) if isinstance(col, str) else col
    arr = _blocklist_literal_array(words)
    rebuilt = F.concat_ws(
        " ",
        F.transform(
            F.split(c, " "),
            lambda t: F.when(
                F.array_contains(arr, F.lower(t)), F.lit(mask)
            ).otherwise(t),
        ),
    )
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(rebuilt)


def match_count(col: Column | str, pattern: str) -> Column:
    """Number of non-overlapping matches of ``pattern`` — the audit
    metric a scrubbing pipeline reports per row/partition."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0)))


def portable_uniform(id_col: str, salt: str = "v1") -> "F.Column":
    """Engine-portable uniform u ∈ (0, 1) from md5(salt || id): the first
    13 hex chars are a 52-bit integer — exactly representable in a
    double, so ANY engine that can parse hex reproduces u bit-for-bit
    (Spark: conv(); DuckDB: CAST('0x…')). The +0.5 offset keeps u
    strictly inside (0, 1) so ln(u) is finite."""
    h = F.substring(F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 13)
    return (F.conv(h, 16, 10).cast("double") + F.lit(0.5)) / F.lit(float(1 << 52))


def weighted_sample_portable(
    df: DataFrame,
    weight_col: str,
    k: int,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "v1",
) -> DataFrame:
    """Distributed weighted sampling WITHOUT replacement, k per stratum
    (Efraimidis–Spirakis A-ES): each row draws the portable uniform u and
    scores ln(u)/w — the top-k scores per stratum are exactly a weighted
    sample without replacement. One scan + one window rank; the score is
    a codegen'd expression, and because u derives from md5 the identical
    sample reproduces on any engine (the DuckDB oracle replays it).

    Weights must be strictly positive. Output carries ``rn`` (1..k per
    stratum) for deterministic downstream ordering.
    """
    from pyspark.sql import Window

    score = F.log(portable_uniform(id_col, salt)) / F.col(weight_col).cast(
        "double"
    )
    w = Window.partitionBy(stratum_col).orderBy(
        F.desc("_es_score"), F.asc(id_col)
    )
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("_es_score", score)
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= k)
        .drop("_es_score")
    )


def normalize_for_dedup(col: str | "F.Column") -> "F.Column":
    """Canonical text form for normalization-aware exact dedup:
    lowercase, punctuation stripped, whitespace runs collapsed, ends
    trimmed. Catches trivially-reformatted duplicates (case, spacing,
    punctuation-only edits) that a raw content hash misses — the
    standard normalization step before exact dedup in corpus pipelines.
    All codegen'd string expressions; mirror the same four steps in SQL
    for an engine-portable twin.

    Twin contract boundary (fuzz-pinned in tests/test_text_ops.py):
    Java's ``\\s`` includes vertical tab (\\x0b) where RE2's does not,
    so texts containing \\x0b normalize differently between the Spark
    form and the DuckDB ``_NORM_SQL`` twin ('a\\x0bb' -> 'a b' vs 'ab').
    Every other ASCII whitespace/punct/word class agrees byte-for-byte;
    a corpus with raw vertical tabs must pre-clean them (the same
    upstream-normalization posture as url.py's IPv6 note)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.lower(c)
    out = F.regexp_replace(out, r"[^\w\s]", "")
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


def _check_sep_portable(sep: str) -> None:
    """Reject separator regexes whose meaning differs between Java
    (``F.split``, the HOF path) and Python ``re`` (the pandas fallback)
    — ADVICE r3: a document's output must not depend on which path its
    paragraph count routes it to. The portable subset (literals,
    classes, alternation, bounded/greedy/lazy quantifiers, ``\\s \\d
    \\w`` etc.) passes; engine-specific escapes and constructs raise.

    DELIBERATELY CONSERVATIVE: the scan is textual, not a parse, so a
    few genuinely portable patterns are rejected too — e.g. an escaped
    backslash followed by R (``\\\\R`` meaning literal-backslash-then-R)
    trips the ``\\R`` rule, and a class like ``[}+]`` trips the
    possessive-quantifier rule. The failure mode is a loud ValueError
    (rewrite the sep, e.g. ``[\\\\]R``), never a silent cross-dialect
    divergence — the right trade for a correctness guard."""
    import re as _re

    problems = [
        (r"\\[RhvVHQEpP]", "Java-only escape (\\R \\h \\v \\Q \\E \\p{...})"),
        (r"(?<!\\)[*+?}]\+", "possessive quantifier (Java-only)"),
        (r"\(\?>", "atomic group (Java-only)"),
        (r"\(\?P[<=]", "Python-only named group/backref"),
        (r"\(\?\(", "Python-only conditional"),
    ]
    for pat, why in problems:
        if _re.search(pat, sep):
            raise ValueError(
                f"dedup_paragraphs sep {sep!r} is not portable between the "
                f"Java-regex HOF path and the Python-re fallback: {why}. "
                "Use the shared dialect subset (see docstring)."
            )
    # both engines must also accept it at all
    _re.compile(sep)


def dedup_paragraphs(
    df: DataFrame,
    text_col: str,
    out_col: str,
    sep: str = "\n\n",
    hof_max_paragraphs: int = 256,
) -> DataFrame:
    """Intra-document span dedup: drop repeated paragraphs WITHIN each
    document, preserving first-occurrence order (boilerplate headers,
    duplicated navigation blocks, copy-paste artifacts).

    Two per-row paths, split on paragraph count (VERDICT r2 #6 — the
    prefix-scan is O(p²) per document, fine at real-document p ≈ 10²
    but a crafted 10⁵-paragraph row would stall its task):

    - p ≤ ``hof_max_paragraphs``: pure higher-order functions — split,
      keep paragraph i iff array_position over the prefix finds no
      earlier copy, rejoin. Zero Python, zero shuffle, whole-stage
      codegen; this is the hot path for every real document.
    - p > ``hof_max_paragraphs``: Arrow-batched pandas UDF with a
      per-document seen-set — O(p) per document, bounded memory. The
      Arrow crossing costs more per byte than the HOF path, but only
      pathological rows ever take it. (Kept out of a ``when`` branch
      deliberately: Spark extracts Python UDFs into their own
      projection evaluated on EVERY row, so a conditional expression
      would pay the crossing corpus-wide — the filter-and-union shape
      below confines it to the oversized rows.)

    Both paths treat ``sep`` as a regex for splitting (Spark's
    ``split`` semantics) and a literal when rejoining. The HOF path
    splits with JAVA regex, the pandas fallback with PYTHON ``re`` —
    so ``sep`` is restricted to the dialect-portable subset (ADVICE
    r3): constructs whose semantics differ or exist in only one engine
    (``\\R \\h \\v \\Q \\E \\p{...}``, possessive quantifiers, atomic
    groups, Python named groups/conditionals) raise ``ValueError`` up
    front instead of letting a document's output depend on which path
    its paragraph count routes it to. Results are identical across
    paths (regression-tested with a non-trivial separator)."""
    import re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    _check_sep_portable(sep)

    paras = F.split(F.col(text_col), sep)
    # NULL text → size() is NULL, which would drop the row from BOTH
    # branches; coalesce routes NULLs to the HOF branch → NULL out.
    n = F.coalesce(F.size(paras), F.lit(-1))
    kept = F.filter(
        paras,
        lambda p, i: F.array_position(F.slice(paras, 1, i), p) == 0,
    )
    small = df.where(n <= hof_max_paragraphs).withColumn(
        out_col, F.array_join(kept, sep)
    )

    pat = re.compile(sep)

    def _dedup_series(s):
        def one(t):
            if t is None:
                return None
            seen = set()
            out = []
            for p in pat.split(t):
                if p not in seen:
                    seen.add(p)
                    out.append(p)
            return sep.join(out)

        return s.map(one)

    dedup_udf = pandas_udf(_dedup_series, "string")
    large = df.where(n > hof_max_paragraphs).withColumn(
        out_col, dedup_udf(F.col(text_col))
    )
    return small.unionByName(large)


def holdout_split(
    id_col: str = "doc_id",
    salt: str = "split-v1",
    bounds: tuple[tuple[str, float], ...] = (
        ("train", 0.90),
        ("val", 0.95),
    ),
    rest: str = "test",
) -> Column:
    """Deterministic train/val/test assignment — the split every training
    pipeline needs to be REPRODUCIBLE and leakage-free: a document's
    split is a pure function of md5(salt || id), so re-running on a
    grown corpus never moves an old document between splits (no eval
    contamination from re-shuffling), and any engine with an md5 builtin
    re-derives the identical assignment (same literal-threshold trick as
    :func:`md5_threshold`). ``bounds`` are cumulative upper fractions in
    ascending order; everything above the last bound falls into
    ``rest``. Pure codegen'd row expression: no shuffle, no state,
    scales with the scan.

    Validation: bounds must satisfy 0 < b1 < b2 < ... <= 1 — mis-ordered
    or duplicate bounds would silently make later splits unreachable
    (every digest below a later threshold is already claimed by an
    earlier ``when`` arm), exactly the kind of quiet
    train/eval-contamination bug a split function must refuse to ship.
    NULL ids: md5(NULL) is NULL, every ``<`` comparison is NULL, so all
    ``when`` arms fall through and a NULL id lands in ``rest`` — routed
    deliberately AWAY from ``train`` (pinned in
    tests/test_text_ops.py::test_holdout_split_validates_bounds)."""
    ups = [float(u) for _, u in bounds]
    if any(not (0.0 < u <= 1.0) for u in ups) or any(
        a >= b for a, b in zip(ups, ups[1:])
    ):
        raise ValueError(
            "holdout_split bounds must be strictly ascending fractions "
            f"in (0, 1]; got {ups}"
        )
    digest = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    expr = None
    for name, upper in bounds:
        cond = (digest < F.lit(md5_threshold(upper)), F.lit(name))
        expr = F.when(*cond) if expr is None else expr.when(*cond)
    return expr.otherwise(F.lit(rest)) if expr is not None else F.lit(rest)


def token_balanced_shards(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    target_tokens: int = 65536,
    bucket_size: int = 4096,
) -> "DataFrame":
    """Token-balanced shard manifest: assign documents (in ``id_col``
    order) to consecutive shards of ~``target_tokens`` whitespace tokens
    each — the write-planning step before a training corpus is laid out
    into fixed-budget files, where balanced shards keep every data-loader
    worker equally fed.

    shard(d) = floor(cum_tokens_before_d / target_tokens), i.e. a shard
    closes as soon as it reaches the budget; a single oversized document
    never splits, so a shard can overshoot by at most one document.

    Scale design — the naive form is a running sum over a GLOBAL order,
    which in Spark means `Window.orderBy` with no partition key: every
    row moves to ONE partition, a non-starter at corpus scale. This
    implements the textbook two-level distributed prefix sum instead:

      1. bucket b = floor(id / bucket_size); per-bucket token totals are
         a tiny aggregate (corpus_rows / bucket_size rows);
      2. bucket-level running offsets use the single-partition window on
         THAT small frame only (~100 MB per 25e9 docs at the default);
      3. offsets broadcast-join back and a `partitionBy(bucket)` window
         computes the within-bucket prefix — fully distributed.

    The result is bit-identical to the global window (the DuckDB oracle
    replays exactly that single-window form) while the full corpus never
    leaves its partitions for sorting. Output is one row per shard:
    (shard_id, n_docs, shard_tokens, first_doc, last_doc).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.size(
            F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
        ).cast("long").alias("n_tokens"),
        (F.col(id_col) / bucket_size).cast("long").alias("b"),
    )
    bucket_totals = toks.groupBy("b").agg(
        F.sum("n_tokens").alias("bucket_tokens")
    )
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bucket_totals.select(
        "b",
        F.coalesce(F.sum("bucket_tokens").over(wb), F.lit(0)).alias(
            "bucket_offset"
        ),
    )
    ww = (
        Window.partitionBy("b")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = (
        toks.join(F.broadcast(offsets), "b")
        .select(
            id_col,
            "n_tokens",
            (
                F.col("bucket_offset")
                + F.coalesce(F.sum("n_tokens").over(ww), F.lit(0))
            ).alias("cum_before"),
        )
        .select(
            id_col,
            "n_tokens",
            (F.col("cum_before") / target_tokens).cast("long").alias(
                "shard_id"
            ),
        )
    )
    return assigned.groupBy("shard_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("shard_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


def unimax_allocation(
    counts: "DataFrame",
    key_col: str,
    tokens_col: str,
    budget: int,
    epoch_cap: int,
) -> "DataFrame":
    """UniMax budget allocation (Chung et al., 2023): distribute a total
    token ``budget`` across groups (languages/sources) as uniformly as
    possible, but never take more than ``epoch_cap`` epochs of any
    group's ``tokens_col`` tokens — the sampling scheme that replaced
    temperature mixing for multilingual pretraining because it bounds
    tail-language repetition explicitly instead of implicitly.

    Waterfilling closed form: with groups in ascending capacity order
    (cap = epoch_cap·tokens, ties by key), group i is capped iff every
    group before it is capped AND cap_i·(L−i+1) ≤ budget − Σ_{j<i}cap_j
    (its capacity is below the equal share of what remains). Capped
    groups take exactly cap; the rest split the leftover equally. The
    prefix-AND turns the iterative waterfill into two window passes.

    All comparisons and sums are exact integer math; doubles appear
    only in the three final report divisions — the result is
    accumulation-order-proof and engine-portable. Every window runs on
    the GROUP-COUNT frame (one row per language), never the corpus:
    the corpus contributes one groupBy upstream, so the operator is a
    metadata computation at any corpus size.

    Returns (key, n_tokens, cap_tokens, capped, alloc_tokens, epochs,
    mix_weight).
    """
    from pyspark.sql import Window

    base = counts.select(
        F.col(key_col),
        F.col(tokens_col).cast("long").alias("n_tokens"),
        (F.col(tokens_col).cast("long") * epoch_cap).alias("cap_tokens"),
    )
    wo = Window.orderBy("cap_tokens", key_col)
    whole = Window.partitionBy()
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = base.select(
        "*",
        F.row_number().over(wo).alias("rn"),
        F.count("*").over(whole).alias("L"),
        F.coalesce(
            F.sum("cap_tokens").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("long"),
        ).alias("cum_before"),
    ).select(
        "*",
        F.when(
            F.col("cap_tokens") * (F.col("L") - F.col("rn") + 1)
            <= F.lit(budget) - F.col("cum_before"),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("flag"),
    ).select("*", F.min("flag").over(run).alias("capped_i"))
    alloc = flagged.select(
        "*",
        F.coalesce(
            F.sum(F.when(F.col("capped_i") == 1, F.col("cap_tokens"))).over(
                whole
            ),
            F.lit(0).cast("long"),
        ).alias("capped_sum"),
        F.sum(F.lit(1) - F.col("capped_i")).over(whole).alias("n_uncapped"),
    ).select(
        key_col,
        "n_tokens",
        "cap_tokens",
        (F.col("capped_i") == 1).alias("capped"),
        F.when(F.col("capped_i") == 1, F.col("cap_tokens").cast("double"))
        .otherwise(
            (F.lit(budget) - F.col("capped_sum"))
            / F.col("n_uncapped")
        ).alias("alloc_raw"),
    )
    return alloc.select(
        key_col,
        "n_tokens",
        "cap_tokens",
        "capped",
        F.round("alloc_raw", 2).alias("alloc_tokens"),
        F.round(F.col("alloc_raw") / F.col("n_tokens"), 4).alias("epochs"),
        F.round(F.col("alloc_raw") / budget, 6).alias("mix_weight"),
    )


def sampling_weight_columns(
    c: Column, text_col: str | Column, temp_weight: Column
) -> tuple[Column, Column, Column]:
    """The curation layer's per-document weight triple — soft-dedup
    discount ``round(1/c, 6)``, composite quality ``round(q, 2)``, and
    their product with the source temperature weight, rounded ONCE to
    9 dp — under the repo's determinism contract (each factor a 6-dp
    decimal; the product multiplies in DOUBLE because Spark decimal
    multiplication clamps the result scale back to 6 on (38,6)×(38,6)
    precision overflow). Shared by the batch ``doc_sampling_weights``
    query and the frozen streaming scorer so the two paths cannot
    drift."""
    dec = "decimal(38,6)"
    dedup_dec = F.round(F.lit(1.0) / c, 6).cast(dec)
    quality_dec = F.round(quality_score(text_col), 2).cast(dec)
    # round in the DECIMAL domain: pin the double product to a 15-dp
    # decimal FIRST, then half-up round that decimal to 9 dp — rounding
    # the raw double is engine-specific at half boundaries (same ULP
    # class as the doc_char_entropy flip fixed in r6). The SURFACE is
    # DOUBLE (r9 gate rule): a small-mantissa decimal→double cast is
    # the correctly-rounded conversion of the same rational in both
    # engines (measured bit-equal for mantissa < 2^53), while a decimal
    # SURFACE is what the driver gate hash-fails (14/15 decimal-surfaced
    # rows red across r7-r8 vs 0/35 double-surfaced).
    final_w = (
        F.round(
            (
                dedup_dec.cast("double")
                * quality_dec.cast("double")
                * temp_weight.cast("double")
            ).cast("decimal(38,15)"),
            9,
        )
        .cast("decimal(38,9)")
        .cast("double")
    )
    return dedup_dec.cast("double"), quality_dec.cast("double"), final_w


def digest_counts(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Normalized-form duplicate-count index ``(digest, c_hist)`` — the
    persisted corpus state the streaming sampling-weight scorer probes
    (same canonical form + sha256 as ``dedup_exact_normalized``)."""
    return (
        df.select(
            F.sha2(normalize_for_dedup(text_col), 256).alias("digest")
        )
        .groupBy("digest")
        .agg(F.count("*").alias("c_hist"))
    )


# ADVICE r9 #1: a decimal→double cast is only measured engine-identical
# while the decimal's SCALED mantissa stays under 2^53, so an EXACT
# scale-9 sum re-enters the engine-divergent conversion class once the
# value crosses ~9.0e6 (9e6 × 10^9 ≈ 2^53). Surfaced sums therefore TIER
# their final rounding on magnitude: below ``_TIER_AT`` they keep the
# full small-regime scale (mantissa < 1e6 × 10^9 = 1e15 < 2^53), at or
# above it they re-round to 2 dp (mantissa < 2^53 up to ~9.0e13). The
# branch condition compares the EXACT decimal, which both engines
# evaluate identically, so they always pick the same branch. Documented
# guarantee bound: per-group sums < 9e13 (beyond that, nothing is
# engine-exact at ANY fixed scale ≥ 2 dp; a deployment expecting larger
# per-group mass must pre-scale its weights).
_TIER_AT = 1_000_000


def tiered_sum_double(col: Column, scale: int = 9) -> Column:
    """Engine-exact DOUBLE surface for an exact decimal sum: full
    ``scale``-dp below ``_TIER_AT`` in MAGNITUDE, 2-dp at/above (see
    comment above). Tiering on abs() keeps the guarantee symmetric —
    current callers are nonnegative, but the helper is generic and a
    large NEGATIVE sum in the small branch would re-enter the
    divergent class. Keep in lockstep with
    :func:`tiered_sum_double_sql`."""
    big = F.round(col, 2).cast("decimal(38,2)").cast("double")
    small = F.round(col, scale).cast(f"decimal(38,{scale})").cast("double")
    return F.when(F.abs(col) >= F.lit(_TIER_AT), big).otherwise(small)


def tiered_sum_double_sql(expr: str, scale: int = 9) -> str:
    """DuckDB twin of :func:`tiered_sum_double` for oracle strings."""
    return (
        f"CASE WHEN abs({expr}) >= {_TIER_AT} "
        f"THEN CAST(CAST(round({expr}, 2) AS DECIMAL(38,2)) AS DOUBLE) "
        f"ELSE CAST(CAST(round({expr}, {scale}) AS DECIMAL(38,{scale})) "
        f"AS DOUBLE) END"
    )


def ess_rollup(
    weights: DataFrame,
    key_col: str = "source",
    w_col: str = "final_weight",
) -> DataFrame:
    """Kish effective sample size per key from a weight table:
    (key, n_docs, sum_w, sum_w2, ess, ess_ratio) with
    ESS = (Σw)²/Σw². The weight (a 9-dp value, double or decimal) is
    pinned to DECIMAL(18,9) first — an EXACT round trip, since a 9-dp
    decimal's nearest double rounds back to the same 9 digits — so w
    and w² (scale 18, within DECIMAL(38)) sum EXACTLY under any
    partitioning, and the one double division happens on exact inputs.
    Surfaces are DOUBLE per the r9 gate rule, via the magnitude-TIERED
    re-round (``tiered_sum_double``, ADVICE r9 #1): both sums keep 9 dp
    while < 1e6 and re-round to 2 dp above, so the decimal→double cast
    stays engine-identical (scaled mantissa < 2^53) for per-group sums
    up to ~9e13 — not just the ~9e6 the old always-9-dp surface could
    guarantee. The ess division consumes the SAME tiered doubles, so
    its inputs (and hence ess/ess_ratio) are engine-exact in both
    regimes. SHARED by the batch ``sampling_ess_by_source`` query and
    the streaming ``ess_monitor_sink`` so the two paths cannot drift."""
    fwt = F.col(w_col).cast("decimal(18,9)").alias("_fwt")
    agg = weights.select(key_col, fwt).groupBy(key_col).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("_fwt").cast("decimal(38,9)").alias("_sum_w"),
        # (18,9) × (18,9) → (37,18): exact, no Spark scale clamping
        F.sum(F.col("_fwt") * F.col("_fwt"))
        .cast("decimal(38,18)")
        .alias("_sum_w2"),
    )
    # the division consumes the TIERED re-rounded sums, not the exact
    # scale-9/18 ones: an exact mantissa can exceed 2^53, where the two
    # engines' decimal→double casts stop being bit-identical — the
    # tiered value's mantissa stays small in both regimes, so the
    # division inputs (and hence ess) are engine-exact
    sw = tiered_sum_double(F.col("_sum_w"))
    sw2 = tiered_sum_double(F.col("_sum_w2"))
    ess_d = sw * sw / sw2
    return agg.select(
        key_col,
        "n_docs",
        sw.alias("sum_w"),
        sw2.alias("sum_w2"),
        F.round(ess_d.cast("decimal(38,15)"), 4)
        .cast("decimal(38,4)")
        .cast("double")
        .alias("ess"),
        F.round((ess_d / F.col("n_docs")).cast("decimal(38,15)"), 4)
        .cast("decimal(38,4)")
        .cast("double")
        .alias("ess_ratio"),
    )


def doc_sampling_weights_frozen(
    df: DataFrame,
    temp_weights: dict[str, str],
    history: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """FROZEN-mix sampling weights: score documents with literal
    per-source temperature weights (6-dp decimal strings, the fit-time
    artifact) and a persisted duplicate-count index instead of
    recomputing either over the corpus — the serving-time form of the
    batch ``doc_sampling_weights`` query. A document's duplicate count
    is its in-``df`` occurrence count plus the index's ``c_hist`` for
    its digest, so on (history ∪ df) the count equals the batch
    recompute exactly. Sources absent from ``temp_weights`` get weight
    0 (they were not in the frozen mix)."""
    dec = "decimal(38,6)"
    mapping = F.create_map(
        *[
            x
            for s, w in sorted(temp_weights.items())
            for x in (F.lit(s), F.lit(w))
        ]
    )
    d = df.select(
        F.col(id_col),
        F.col(source_col),
        F.col(text_col),
        F.sha2(normalize_for_dedup(text_col), 256).alias("digest"),
    )
    d = d.withColumn(
        "_cb", F.count("*").over(Window.partitionBy("digest"))
    )
    # no broadcast hint: the digest index is corpus-sized at scale —
    # the engine should pick the join side (a small micro-batch probe
    # ends up broadcast the OTHER way under AQE)
    if history is not None:
        d = d.join(history, "digest", "left").withColumn(
            "_c", F.col("_cb") + F.coalesce(F.col("c_hist"), F.lit(0))
        )
    else:
        d = d.withColumn("_c", F.col("_cb"))
    tw = F.coalesce(
        mapping[F.col(source_col)].cast(dec),
        F.lit(0).cast(dec),
    )
    dedup_w, quality_w, final_w = sampling_weight_columns(
        F.col("_c"), text_col, tw
    )
    return d.select(
        id_col,
        source_col,
        dedup_w.alias("dedup_weight"),
        quality_w.alias("quality_weight"),
        tw.alias("temp_weight"),
        final_w.alias("final_weight"),
    )


def char_entropy_columns(
    df: DataFrame,
    text_col: str,
    passthrough: tuple[str, ...],
) -> DataFrame:
    """(passthrough…, n_chars_exact, uniq_chars, char_entropy) — the
    per-document character-Shannon-entropy block computed by ONE
    Arrow-batched kernel instead of the interpreted higher-order-
    function fold (r11: the HOF recomputes ``size(filter(cs, x = c))``
    per DISTINCT character — O(alphabet × length) interpreted work per
    document, measured as the whole wall of doc_char_entropy and the
    biggest slice of quality_proxy_agreement).

    Engine-exactness contract, replicated term for term from the
    DuckDB oracle (plans/curation_queries.py:_ENTROPY_SQL): character
    counts per code point, p = k/n in IEEE float64, per-character term
    round(-p·ln p, 6) with the HALF_UP shortest-repr rounding
    ``F.round`` uses (functions/clustering.py:_round_half_up), terms
    summed EXACTLY as 6-dp micro-integers (order-proof, same as the
    decimal fold), the total rounded HALF_UP to 4 dp and surfaced
    DOUBLE. ln is the host libm — the same library DuckDB calls, where
    the previous JVM Math.log agreed only to within 1 ulp. NULL text →
    NULL row values; empty text → (0, 0, NULL) — note the HOF this
    replaced silently DIVERGED from the oracle there (Spark's
    ``split('', '')`` yields ``['']``; pinned in tests/test_text_ops).

    Character model: Python code points. Identical to DuckDB's
    ``string_split(text, '')`` and Spark's ``split`` on BMP text (all
    the test corpora); on astral-plane text Spark's UTF-16 split
    counts surrogate halves and DuckDB splits grapheme clusters, so
    NO two of the three agree — a corpus with such text needs one
    declared character model first (the kernel's code points are the
    sanest default).

    Scale shape: embarrassingly parallel per row, zero shuffle — the
    kernel pipelines into the scan stage like every other text
    operator here; only the Arrow batch crossing is new, and it
    replaces strictly more expensive interpreted expression work.
    """
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    q6 = Decimal(1).scaleb(-6)
    q4 = Decimal(1).scaleb(-4)

    fields = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in passthrough
    )

    def gen(batches):
        for pdf in batches:
            n_out, u_out, e_out = [], [], []
            for text in pdf[text_col]:
                if text is None or (
                    isinstance(text, float) and pd.isna(text)
                ):
                    n_out.append(None)
                    u_out.append(None)
                    e_out.append(None)
                    continue
                n = len(text)
                if n == 0:
                    n_out.append(0)
                    u_out.append(0)
                    e_out.append(None)
                    continue
                counts = Counter(text)
                total = 0
                for k in counts.values():
                    p = k / n
                    t = -p * math.log(p)
                    total += int(
                        Decimal(repr(t)).quantize(q6, ROUND_HALF_UP)
                        .scaleb(6)
                    )
                n_out.append(n)
                u_out.append(len(counts))
                e_out.append(
                    float(
                        Decimal(total).scaleb(-6)
                        .quantize(q4, ROUND_HALF_UP)
                    )
                )
            out = pdf[list(passthrough)].copy()
            out["n_chars_exact"] = pd.array(n_out, dtype="Int32")
            out["uniq_chars"] = pd.array(u_out, dtype="Int32")
            out["char_entropy"] = pd.array(e_out, dtype="float64")
            yield out

    return df.select(*passthrough, text_col).mapInPandas(
        gen,
        schema=(
            f"{fields}, n_chars_exact int, uniq_chars int, "
            "char_entropy double"
        ),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-k adjacent-bigram collocations by pointwise mutual
    information (Church & Hanks 1990): PMI(w1, w2) = ln( p(w1,w2) /
    (p(w1) p(w2)) ) with the joint estimated over adjacent bigram
    occurrences and the marginals over unigram occurrences — the
    classic collocation-mining statistic (and the matrix word2vec SGNS
    implicitly factorizes, Levy & Goldberg 2014). Corpus-analysis use:
    surfaces multi-word expressions ("new york") and templated
    boilerplate whose components rarely appear apart — high-PMI mass
    is a boilerplate/dedup smell the count-based vocab reports miss.

    ``min_count`` floors the joint count (PMI's low-frequency bias:
    a pair seen once has spuriously high PMI), and ``k`` bounds the
    report. Output (w1, w2, pair_count, pmi, rn), ranked by rounded
    PMI desc with the (w1, w2) tie-break so the order — and the
    row_number — is engine-portable (ties in raw PMI below 1e-4 would
    otherwise order differently across engines).

    Scale shape: two map-side-combinable aggregates (unigram counts,
    bigram counts — both Zipf-small relative to the corpus), two hash
    joins of the FILTERED bigram table back to unigram counts, two
    single-row totals that ride as broadcast cross joins, and a
    distributed TakeOrdered top-k — no global sort of the corpus, no
    Python, state bounded by vocabulary size at any corpus scale.
    """
    arr = F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
    arrs = df.select(arr.alias("_t"))
    bi = (
        arrs.where(F.size("_t") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_t") - 2),
                    lambda i: F.struct(
                        F.col("_t")[i].alias("w1"),
                        F.col("_t")[i + 1].alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    uni = (
        arrs.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("double").alias("n"))
    btot = bi.agg(F.count("*").cast("double").alias("b"))
    bg = (
        bi.groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
        .where(F.col("c2") >= min_count)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1a"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c1b"))
    scored = (
        bg.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .select(
            "w1",
            "w2",
            F.col("c2").cast("bigint").alias("pair_count"),
            F.round(
                F.log(
                    (F.col("c2") / F.col("b"))
                    / ((F.col("c1a") / F.col("n")) * (F.col("c1b") / F.col("n")))
                ),
                4,
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(F.desc("pmi"), "w1", "w2").limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("pmi"), "w1", "w2")
    return top.withColumn(
        "rn", F.row_number().over(w).cast("int")
    ).select("w1", "w2", "pair_count", "pmi", "rn")


def _boiler_line_positions(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str,
    max_docs: int,
) -> DataFrame:
    """(id, pos) of every line occurring in more than ``max_docs``
    DISTINCT documents — the shared core of the CCNet-style line-level
    cross-corpus dedup pair (Wenzek et al. 2019 §3.2 "deduplication",
    the RedPajama web-boilerplate killer: navigation bars, cookie
    banners, and footers repeat across SITES, so intra-document
    paragraph dedup never sees them).

    Lines hash to 8 bytes (xxhash64) before any shuffle; the document
    frequency is one map-side-combinable count(DISTINCT id) per hash
    (a line repeated inside one document counts that document once);
    and the boilerplate set — Zipf-head lines with df > max_docs, the
    same shape as the span family's stop-gram set — broadcasts back as
    a semi-join, so the corpus-sized lines frame never shuffles.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "_line"),
    ).select(id_col, "pos", F.xxhash64("_line").alias("h"))
    boiler = (
        lines.groupBy("h")
        .agg(F.count_distinct(id_col).alias("_df"))
        .where(F.col("_df") > max_docs)
        .select("h")
    )
    return lines.join(F.broadcast(boiler), "h", "left_semi").select(
        id_col, "pos"
    )


def line_boilerplate_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    max_docs: int = 8,
) -> DataFrame:
    """CCNet-style line-level cross-corpus dedup STATS: (id, n_lines,
    boiler_lines, kept_lines, boiler_frac) — how much of each document
    is corpus-wide boilerplate (lines shared by more than ``max_docs``
    distinct documents). Complements :func:`dedup_paragraphs`, which is
    intra-document only. Every copy of a boilerplate line counts
    (per-position flags), while document frequency counts a document
    once however often it repeats the line. NULL text → NULL counts
    (never -1), matching every oracle's ``len(string_split(NULL))``.
    """
    flagged = _boiler_line_positions(df, id_col, text_col, sep, max_docs)
    per_doc = flagged.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("boiler_lines")
    )
    n_lines_raw = F.size(F.split(F.col(text_col), sep))
    base = df.select(
        F.col(id_col),
        F.when(F.col(text_col).isNull(), F.lit(None).cast("bigint"))
        .otherwise(n_lines_raw.cast("bigint"))
        .alias("n_lines"),
    )
    boiler = F.coalesce("boiler_lines", F.lit(0)).cast("bigint")
    return base.join(per_doc, id_col, "left").select(
        id_col,
        "n_lines",
        boiler.alias("boiler_lines"),
        (F.col("n_lines") - boiler).cast("bigint").alias("kept_lines"),
        F.round(
            boiler.cast("double") / F.greatest("n_lines", F.lit(1)), 4
        ).alias("boiler_frac"),
    )


def line_boilerplate_clean(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    max_docs: int = 8,
    out_col: str = "clean_text",
) -> DataFrame:
    """The applied form of :func:`line_boilerplate_stats`: every line
    occurring in more than ``max_docs`` distinct documents is dropped
    from EVERY document (CCNet removes boilerplate wholesale — there is
    no keep-one-copy winner for a cookie banner), and the survivors
    rejoin with ``sep`` in original order. Output: (id, out_col,
    n_lines, kept_lines).

    Rebuild rides the span family's device: only (id, pos) pairs of
    boilerplate lines shuffle (bounded by flagged-line count, not
    corpus size) — one groupBy(id) collects them into an array and a
    codegen'd higher-order filter drops those positions from the split
    array. Documents with no boilerplate pass through untouched; NULL
    text stays NULL.
    """
    flagged = _boiler_line_positions(df, id_col, text_col, sep, max_docs)
    return _drop_lines_rebuild(df, flagged, id_col, text_col, sep, out_col)


def _drop_lines_rebuild(
    df: DataFrame,
    flagged: DataFrame,
    id_col: str,
    text_col: str,
    sep: str,
    out_col: str,
) -> DataFrame:
    """Shared line-rebuild of the CCNet family: drop the flagged
    (id, pos) line positions from each document's split array and
    reassemble with ``sep`` — one groupBy(id) collecting positions, a
    codegen'd higher-order filter, NULL text stays NULL. Used by the
    batch :func:`line_boilerplate_clean` and the frozen-index serving
    probe :func:`line_boilerplate_probe_clean`, so their removal
    semantics cannot diverge."""
    drops = flagged.groupBy(id_col).agg(
        F.collect_list("pos").alias("_drop")
    )
    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), sep).alias("_l")
    )
    kept = F.filter(
        F.zip_with(
            F.col("_l"),
            F.sequence(F.lit(0), F.size("_l") - 1),
            lambda line, i: F.struct(line.alias("line"), i.alias("i")),
        ),
        lambda p: ~F.array_contains(F.col("_drop"), p["i"]),
    )
    return (
        toks.join(drops, id_col, "left")
        .withColumn(
            "_kept",
            F.when(F.col("_drop").isNull(), F.col("_l")).otherwise(
                F.transform(kept, lambda p: p["line"])
            ),
        )
        .select(
            id_col,
            F.when(F.col("_l").isNull(), F.lit(None).cast("string"))
            .otherwise(F.array_join(F.col("_kept"), sep))
            .alias(out_col),
            F.when(F.col("_l").isNull(), F.lit(None).cast("bigint"))
            .otherwise(F.size("_l").cast("bigint"))
            .alias("n_lines"),
            F.when(F.col("_l").isNull(), F.lit(None).cast("bigint"))
            .otherwise(F.size("_kept").cast("bigint"))
            .alias("kept_lines"),
        )
    )


def build_line_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    max_docs: int = 8,
) -> None:
    """Persist the FROZEN CCNet boilerplate state for the serving shape
    (the index/probe/sink trio every other dedup family has — MinHash,
    winnow, MEM): one distinct-document-frequency pass over the
    reference corpus's line hashes, keeping only the Zipf-head
    boilerplate set (df > ``max_docs``) as ``<path>/boiler`` (h, df)
    plus ``<path>/meta`` (sep, max_docs). The head is Zipf-bounded by
    construction — a line must repeat across more than ``max_docs``
    documents to enter — so the probe side can always broadcast it;
    the reference corpus itself is never re-read after the build."""
    lines = corpus.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), sep)).alias("_line"),
    ).select("id", F.xxhash64("_line").alias("h"))
    boiler = (
        lines.groupBy("h")
        .agg(F.count_distinct("id").cast("bigint").alias("df"))
        .where(F.col("df") > max_docs)
    )
    boiler.write.mode("overwrite").parquet(f"{path}/boiler")
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(sep, max_docs)], "sep string, max_docs int"
    ).write.mode("overwrite").parquet(f"{path}/meta")


def line_boilerplate_probe_clean(
    spark,
    path: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "clean_text",
) -> DataFrame:
    """The SERVING form of :func:`line_boilerplate_clean`: arriving
    documents are scrubbed against a FROZEN :func:`build_line_index`
    boilerplate set — every line whose hash is in the reference head is
    dropped, survivors rejoin in order — returning (id, out_col,
    n_lines, kept_lines). The CCNet gate at 100 TB: an arriving batch
    pays its own line split + one broadcast semi-join against the
    Zipf-bounded head + its own rebuild; no corpus-wide frequency pass,
    no state growth (the state IS the index). A document's cleaned form
    depends only on itself and the frozen head, so batch boundaries
    cannot change a row and the stream equals the batch probe over the
    union bit-for-bit (pinned in tests/test_line_dedup.py)."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    sep = meta["sep"]
    boiler = spark.read.parquet(f"{path}/boiler").select("h")
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "_line"),
    ).select(id_col, "pos", F.xxhash64("_line").alias("h"))
    flagged = lines.join(F.broadcast(boiler), "h", "left_semi").select(
        id_col, "pos"
    )
    return _drop_lines_rebuild(docs, flagged, id_col, text_col, sep, out_col)
