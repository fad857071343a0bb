"""Text-analysis primitives for training-data pipelines.

None of these exist in the reference (it delegates scalar functions to
ClickHouse wholesale, reference ``ch/Dockerfile:1``); they are the
extension surface a 100 TB document pipeline needs: tokenization,
language ID, quality scoring, fingerprinting. All are built from
JVM-side ``pyspark.sql.functions`` — no Python UDFs in any hot path,
so they run inside whole-stage codegen at full scan speed.

Tokenization contract (shared with the DuckDB oracles): split on
single spaces, no lowercasing, no punctuation stripping unless the
specific function says so. Keeping the contract trivial is what makes
the oracle checks exact.
"""

from __future__ import annotations

import re
import weakref

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bighouse_spark.functions.identifiers import quote_ident
from bighouse_spark.session import base_session

# Tiny per-language stopword marker sets for the n-gram/stopword
# language-ID heuristic. Real pipelines use fastText/CLD3; the point
# here is the Spark plumbing: a pure-column-expression classifier.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["la", "el", "de", "que", "y"],
    "fr": ["le", "la", "de", "et", "un"],
    "de": ["der", "die", "und", "das", "ein"],
    "zh": ["的", "是", "了", "在", "我"],
}

ENGLISH_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "from",
]


def tokens(text: Column | str) -> Column:
    """Whitespace tokens. ``split`` on a single space to match the
    oracle's ``string_split(text, ' ')`` exactly."""
    return F.split(F.col(text) if isinstance(text, str) else text, " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """A BPE-flavored token estimate: count word pieces after splitting
    words longer than 4 chars into 4-char chunks (≈ GPT-2's ~4
    chars/token heuristic), computed as ceil(len/4) summed via
    aggregate — still pure column expressions."""
    t = tokens(text)
    return F.aggregate(
        t,
        F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("int"),
    )


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct n-word shingles (space-joined), the MinHash/Jaccard
    input unit. transform over a sequence of start offsets keeps this
    JVM-side."""
    t = tokens(text)
    starts = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0)))
    sh = F.transform(
        starts, lambda i: F.concat_ws(" ", F.slice(t, i + 1, n))
    )
    # A doc shorter than n words yields its full text as one shingle.
    return F.array_distinct(
        F.when(F.size(t) >= n, sh).otherwise(F.array(F.concat_ws(" ", t)))
    )


# NGram transformers are stateless config objects; constructing one
# costs a handful of py4j round trips, so reuse per (n, in, out).
# Keyed on the owning base SparkSession (same pattern as the catalog
# memos): the wrapper's _java_obj is bound to that session's py4j
# gateway at construction, so an entry must die with its session or
# a driver restart serves a dead JVM handle.
_NGRAM_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def with_shingles(
    df: "DataFrame",
    text_col: str = "text",
    n: int = 3,
    out_col: str = "shingles",
) -> "DataFrame":
    """DataFrame-level twin of ``word_shingles`` via Spark ML's
    ``NGram`` transformer — byte-identical output (verified by
    checksum over the fixtures and by every dedup oracle), ~2× faster:
    NGram's sliding window runs as a compiled Scala closure, while the
    ``transform(sequence, slice, concat_ws)`` expression is
    interpreted per element (higher-order functions don't codegen).
    Prefer this on the hot shingling paths; ``word_shingles`` stays
    for contexts that need a pure Column. Projections are selectExpr
    strings and the transformer is cached — the per-column DSL chatter
    was ~120 ms of py4j per construction on the dedup paths (r15)."""
    from pyspark.ml.feature import NGram

    # Scratch-column names must stay identifier-safe regardless of
    # out_col's content: NGram resolves its input/output cols by raw
    # name (no way to escape a backtick there). A sanitize collision
    # between two out_cols is harmless — the scratch transformer is
    # the same, and the real name is applied at the selectExpr alias.
    safe = re.sub(r"\W", "_", out_col)
    w, ng = f"__bh_w_{safe}", f"__bh_ng_{safe}"
    owner = base_session(df.sparkSession)
    per_session = _NGRAM_CACHE.setdefault(owner, {})
    ngram = per_session.get((n, w, ng))
    if ngram is None:
        ngram = per_session[(n, w, ng)] = NGram(
            n=n, inputCol=w, outputCol=ng
        )
    qw, qng = quote_ident(w), quote_ident(ng)
    out = ngram.transform(
        df.selectExpr("*", f"split({quote_ident(text_col)}, ' ') AS {qw}")
    )
    shingle_expr = (
        f"array_distinct(CASE WHEN size({qw}) >= {n} THEN {qng} "
        f"ELSE array(concat_ws(' ', {qw})) END) AS {quote_ident(out_col)}"
    )
    # withColumn semantics: replace out_col in place when it already
    # exists (else two same-named columns make every later reference
    # AMBIGUOUS), append otherwise.
    cols = [
        shingle_expr if c == out_col else quote_ident(c)
        for c in df.columns
    ]
    if out_col not in df.columns:
        cols.append(shingle_expr)
    return out.selectExpr(*cols)


def language_id(text: Column | str) -> Column:
    """Stopword-marker language ID: for each language, count marker
    words present in the token set; argmax wins, 'und' when no marker
    hits. Deterministic tie-break: language key ascending."""
    t = F.array_distinct(tokens(text))
    scores = [
        (
            lang,
            F.size(
                F.array_intersect(t, F.array(*[F.lit(w) for w in markers]))
            ),
        )
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    best = F.lit("und")
    best_score = F.lit(0)
    # Strict '>' means the first-processed language keeps a tied
    # score, so processing in ascending key order makes ties resolve
    # to the alphabetically smallest language.
    for lang, score in scores:
        cond = score > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, score).otherwise(best_score)
    return best


def quality_features(text: Column | str) -> dict[str, Column]:
    """Heuristic document-quality features (Gopher/C4-style filters):
    token count, mean word length, alpha ratio, stopword ratio, and a
    composite keep-score. All closed-form column expressions."""
    txt = F.col(text) if isinstance(text, str) else text
    t = tokens(txt)
    n_tok = F.size(t)
    n_chars = F.length(txt)
    alpha_chars = F.length(F.regexp_replace(txt, "[^a-zA-Z]", ""))
    stop_arr = F.array(*[F.lit(w) for w in ENGLISH_STOPWORDS])
    n_stop = F.size(F.filter(t, lambda w: F.array_contains(stop_arr, w)))
    mean_word_len = (n_chars - (n_tok - 1)) / n_tok  # chars minus separators
    return {
        "n_tokens": n_tok,
        "mean_word_len": mean_word_len,
        "alpha_ratio": alpha_chars / n_chars,
        "stopword_ratio": n_stop / n_tok,
    }


def quality_score(text: Column | str) -> Column:
    """Composite 0..1 keep-score from ``quality_features`` — a linear
    blend clamped to [0,1]; thresholds follow C4-style heuristics
    (docs too short / too-long words / no stopwords are low quality).
    """
    f = quality_features(text)
    raw = (
        F.least(f["n_tokens"] / F.lit(50.0), F.lit(1.0)) * 0.4
        + f["alpha_ratio"] * 0.3
        + F.least(f["stopword_ratio"] * F.lit(5.0), F.lit(1.0)) * 0.3
    )
    return F.round(raw, 6)


def fingerprint(text: Column | str) -> Column:
    """Whole-document fingerprint: md5 of whitespace-normalized,
    lowercased text. Cross-engine reproducible (oracle uses the same
    expression); the scale path for exact near-normalized dedup."""
    txt = F.col(text) if isinstance(text, str) else text
    norm = F.lower(F.regexp_replace(F.trim(txt), "\\s+", " "))
    return F.md5(norm)


# PII scrubbing. Patterns are deliberately restricted to syntax that
# Java regex (Spark) and RE2 (DuckDB) interpret identically — char
# classes, \d, \b, bounded repetition — so the oracle reproduces the
# redaction byte-for-byte. Order matters: emails are redacted before
# IPs so the dotted domain of an already-matched email can never be
# re-matched as an address fragment.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "phone": (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
}


def pii_count(text: Column | str, kind: str) -> Column:
    """Number of occurrences of one PII kind (pure column expr)."""
    txt = F.col(text) if isinstance(text, str) else text
    pattern, _ = PII_PATTERNS[kind]
    return F.size(F.regexp_extract_all(txt, F.lit(pattern), F.lit(0)))


def redact_pii(text: Column | str) -> Column:
    """Replace every email/IPv4/phone occurrence with a typed tag.
    Chained global regexp_replace — stays inside codegen, no UDF."""
    out = F.col(text) if isinstance(text, str) else text
    for pattern, tag in PII_PATTERNS.values():
        out = F.regexp_replace(out, pattern, tag)
    return out
