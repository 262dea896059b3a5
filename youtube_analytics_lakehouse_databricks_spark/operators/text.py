"""Text-analysis operators over arbitrary (id, text) DataFrames.

All JVM-side array/higher-order-function expressions — no Python in the
hot path; each operator is one narrow projection (no shuffle) except the
token-count aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

LANG_STOPWORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "zu"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "de", "et", "que"),
}


def _tokens(text_col: str):
    return F.expr(f"filter(split({text_col}, ' '), x -> x <> '')")


def norm_expr(text_col):
    """Canonical-text Column: lowercase, punctuation stripped to spaces,
    whitespace collapsed, trimmed. Accepts a column name or a Column
    (e.g. an exploded paragraph).

    ONE regex pass: a run of non-alphanumerics (spaces included)
    collapses to a single space — result-identical to the classic
    two-pass chain (per-char '[^a-z0-9 ]'->' ' then '" +"->" "'), but
    the second pass attempts a match at nearly every position of
    natural text, which made normalization the corpus-scan bottleneck:
    measured 23 s -> 2 s (11x) over a 500k-doc corpus on local[32].
    Equivalence was verified corpus-wide (0 mismatching rows), and the
    DuckDB oracles deliberately KEEP the two-pass formulation so the
    cross-engine check stays an independent derivation."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


def quality_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
    *,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Token counts, distinct ratio, stopword ratio, char length.

    ``passthrough`` carries additional ``df`` columns through the
    projection unchanged, so per-row operators COMPOSE as one narrow
    projection chain instead of a join re-uniting two scans of the same
    corpus — at 100 TB that join is two corpus-wide exchanges plus a
    sort-merge for output a single select produces with zero shuffle
    (the doc_quality_scores lesson, r13 VERDICT)."""
    clash = set(passthrough) & (
        {id_col, text_col, "tokens", "n_tokens", "n_distinct_tokens",
         "n_chars_actual", "stopword_ratio", "distinct_ratio"}
    )
    if clash:
        raise ValueError(
            f"quality_scores: passthrough columns {sorted(clash)} collide "
            "with the projection's own columns — rename them first (an "
            "ambiguous-reference failure at action time would not name "
            "this call)"
        )
    stop_list = ", ".join(f"'{s}'" for s in stopwords)
    toks = df.select(id_col, text_col, *passthrough, _tokens(text_col).alias("tokens"))
    n = F.size("tokens")
    return toks.select(
        id_col,
        *passthrough,
        n.alias("n_tokens"),
        F.size(F.array_distinct("tokens")).alias("n_distinct_tokens"),
        F.length(text_col).alias("n_chars_actual"),
        (F.size(F.expr(f"filter(tokens, x -> x IN ({stop_list}))")).cast("double") / n).alias(
            "stopword_ratio"
        ),
        (F.size(F.array_distinct("tokens")).cast("double") / n).alias("distinct_ratio"),
    )


def lang_id(
    df: DataFrame, id_col: str, text_col: str, lang_stops: dict[str, tuple[str, ...]] | None = None
) -> DataFrame:
    """Stopword-hit-count argmax language guess: (id, predicted_lang)."""
    lang_stops = lang_stops or LANG_STOPWORDS
    toks = df.select(id_col, _tokens(text_col).alias("tokens"))
    counts = toks.select(
        id_col,
        *[
            F.size(
                F.expr(f"filter(tokens, x -> x IN ({', '.join(repr(s) for s in stops)}))")
            ).alias(f"n_{lang}")
            for lang, stops in lang_stops.items()
        ],
    )
    langs = list(lang_stops)
    n = {lang: F.col(f"n_{lang}") for lang in langs}
    pred = None
    for i, lang in enumerate(langs):
        cond = (n[lang] > 0)
        for other in langs[i + 1 :]:
            cond = cond & (n[lang] >= n[other])
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    pred = pred.otherwise("unknown")
    return counts.select(id_col, pred.alias("predicted_lang"))


def token_counts(df: DataFrame, text_col: str, pattern: str | None = None, min_count: int = 1) -> DataFrame:
    """Corpus token frequencies; ``pattern`` switches to regex tokenization
    (BPE-ish alpha/digit runs), default whitespace."""
    if pattern is None:
        tok = F.explode(_tokens(text_col))
    else:
        tok = F.explode(F.expr(f"regexp_extract_all(lower({text_col}), '{pattern}', 0)"))
    return (
        df.select(tok.alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("token_count"))
        .filter(F.col("token_count") >= min_count)
    )


# -- PII redaction ------------------------------------------------------
#
# The scrub every training-data pipeline runs before anything ships to a
# tokenizer. Pure regexp_replace/regexp_count chains — codegen'd JVM
# expressions, one narrow projection, no shuffle, no Python.

PII_PATTERNS = {
    # order matters: emails before bare number runs, cards before phones
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "card": r"\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{4}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"(?<!\d)(?:\+?\d{1,2}[ .-]?)?\(?\d{3}\)?[ .-]?\d{3}[ .-]?\d{4}(?!\d)",
}


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, redacted_text, n_email, n_ipv4, n_card, n_ssn, n_phone,
    pii_total): each PII family replaced by a typed placeholder like
    <EMAIL>, with per-family match counts so curation can threshold or
    drop documents instead of (or as well as) scrubbing them."""
    # F.lit(pattern) bypasses SQL string-literal parsing, so the regex
    # backslashes survive verbatim
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    redacted = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        redacted = F.regexp_replace(redacted, pat, f"<{name.upper()}>")
    out = df.select(id_col, redacted.alias("redacted_text"), *counts)
    total = sum((F.col(f"n_{n}") for n in PII_PATTERNS), F.lit(0))
    return out.withColumn("pii_total", total.cast("int"))


# -- Repetition / shape quality flags (Gopher- and C4-style rules) ------


def repetition_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_top_token_frac: float = 0.2,
    max_dup_bigram_frac: float = 0.3,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_frac: float = 0.1,
) -> DataFrame:
    """Per-doc repetition and shape metrics with pass/fail flags — the
    classic rule family for filtering machine-generated or boilerplate
    text before training. All per-row JVM array math, no shuffle:

    - top_token_frac: most frequent token's share (computed as the max
      run length over the SORTED token array — O(n log n) per row, never
      the O(n^2) distinct-x-count nested loop);
    - dup_bigram_frac: 1 - distinct/total adjacent bigrams;
    - mean_word_len bounds; symbol_frac (non-alphanumeric share).
    """
    toks = df.select(id_col, text_col, _tokens(text_col).alias("toks"))
    n = F.size("toks")
    # max run length in sorted order == max token multiplicity
    top_run = F.expr(
        "aggregate(array_sort(toks), struct('' AS prev, 0L AS run, 0L AS best), "
        "(acc, x) -> struct(x AS prev, "
        "IF(x = acc.prev, acc.run + 1, 1L) AS run, "
        "GREATEST(acc.best, IF(x = acc.prev, acc.run + 1, 1L)) AS best), "
        "acc -> acc.best)"
    )
    bigrams = F.expr(
        "CASE WHEN size(toks) >= 2 THEN "
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1])) "
        "ELSE CAST(array() AS array<string>) END"
    )
    # Degenerate docs (zero tokens / empty text) get explicit metric values
    # instead of the NULLs division-by-zero would yield with ANSI off —
    # otherwise such rows silently vanish from filter('passes_repetition_
    # rules') rather than being explicitly failed like every other junk doc.
    metrics = toks.select(
        id_col,
        n.alias("n_tokens"),
        F.when(n > 0, top_run.cast("double") / n).otherwise(1.0).alias("top_token_frac"),
        F.when(
            F.size(bigrams) > 0,
            F.lit(1.0) - F.size(F.array_distinct(bigrams)).cast("double") / F.size(bigrams),
        )
        .otherwise(0.0)
        .alias("dup_bigram_frac"),
        F.when(n > 0, F.expr("aggregate(toks, 0L, (a, x) -> a + length(x))").cast("double") / n)
        .otherwise(0.0)
        .alias("mean_word_len"),
        F.when(
            F.length(text_col) > 0,
            F.expr(f"length(regexp_replace({text_col}, '[A-Za-z0-9 ]', ''))").cast("double")
            / F.length(text_col),
        )
        .otherwise(0.0)
        .alias("symbol_frac"),
    )
    return metrics.select(
        "*",
        (
            (F.col("n_tokens") > 0)  # zero-token docs explicitly fail
            & (F.col("top_token_frac") <= max_top_token_frac)
            & (F.col("dup_bigram_frac") <= max_dup_bigram_frac)
            & F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
            & (F.col("symbol_frac") <= max_symbol_frac)
        ).alias("passes_repetition_rules"),
    )


def hashed_embedding(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    dim: int = 64,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(id, embedding array<float>): a deterministic MODEL-FREE text
    embedding — feature hashing + signed random projection (the hashing
    trick; Weinberger et al. 2009 + the SRP planes SimHash already
    uses, kept DENSE instead of sign-compressed). Each token occurrence
    contributes +/-1 per dimension from its sha256 digest bits; the
    per-dim sums are L2-normalized. Cosine between two embeddings
    approximates the cosine of the docs' hashed term-frequency vectors
    (JL-style +/-1 projection), so lexically similar docs land close —
    the bridge that lets a TEXT-ONLY corpus run the whole vector stack
    (semantic_dedup, IVF/PQ ANN, decontam) with no external embedding
    model. Fully JVM-side AND a pure per-row PROJECTION — the sums fold
    over the token array with higher-order functions, so the plan has
    no explode, no aggregation exchange, and no join: zero shuffle at
    any corpus size (the quality_scores stance; the r12 shape exploded
    tokens into a corpus-sized groupBy). Per token: one sha2 + ONE
    nibble decode (the ``ceil(dim/4)`` hex chars the dimensions need,
    decoded once into an int array — not one instr/substr string pass
    per DIMENSION); per dimension: an integer bit-indexing fold.

    Degenerate docs get a NULL embedding, never a zero vector (a zero
    vector would fake similarity 0 to everything; downstream semantic
    stages reject or audit NULLs loudly by design): zero-token docs,
    NULL text, and the rarer doc whose per-dimension signed sums ALL
    cancel to an exact zero norm. Oracled cross-engine (hash-match)
    riding the ``doc_quality_scores`` registry row at an
    oracle-tractable dim (the sums are exact ±1 integers, so the
    fold order can't perturb them).

    ``passthrough`` carries additional ``df`` columns through the
    projection (the ``quality_scores`` composition contract): a caller
    who needs the embedding NEXT TO other per-row derivations of the
    same table composes projections instead of joining two corpus scans
    back together — the join variant costs two corpus-wide exchanges at
    scale for output one select produces shuffle-free."""
    if not 1 <= int(dim) <= 256:
        raise ValueError(
            f"hashed_embedding: dim={dim} must be in [1, 256] — one "
            "sha256 digest supplies 256 sign bits per token"
        )
    # text_col is deliberately ALLOWED in passthrough (the fused
    # doc_quality_scores composition carries it forward); the id, the
    # output, and the internals are not
    clash = set(passthrough) & {id_col, "embedding", "__nibs", "__vec", "__nrm"}
    if clash:
        raise ValueError(
            f"hashed_embedding: passthrough columns {sorted(clash)} "
            "collide with the projection's own columns — rename them "
            "first"
        )
    n_nibs = (int(dim) + 3) // 4
    shas = f"transform(filter(split({text_col}, ' '), x -> x <> ''), t -> sha2(t, 256))"
    # the per-token nibble matrix materializes ONCE per row; every
    # dimension below is a pure integer fold over it. A single-pass
    # variant (one aggregate with an array accumulator, zip_with adding
    # a per-token contribution array) was measured SLOWER at both dims
    # (r14: 1.17 -> 1.68 s at dim=8, 6.7 -> 11.2 s at dim=64 on sf0.1)
    # — the per-token array allocation costs more than dim cheap
    # integer folds over the cached nibble rows; don't retry it
    base = df.select(
        id_col,
        *passthrough,
        F.expr(
            f"transform({shas}, h -> transform(sequence(1, {n_nibs}), "
            "i -> instr('0123456789abcdef', substr(h, i, 1)) - 1))"
        ).alias("__nibs"),
    )
    dims = []
    for b in range(int(dim)):
        pos, shift = 1 + b // 4, 3 - b % 4
        dims.append(
            f"aggregate(__nibs, CAST(0 AS DOUBLE), (a, r) -> "
            f"a + (2 * ((element_at(r, {pos}) div {2 ** shift}) % 2) - 1))"
        )
    # NULL text propagates NULL folds; zero-token and all-cancelling
    # docs land at __nrm = 0 — every degenerate channel exits NULL here
    normed = F.expr(
        "CASE WHEN __nrm IS NULL OR __nrm = CAST(0 AS DOUBLE) THEN NULL "
        "ELSE transform(__vec, x -> CAST(x / __nrm AS FLOAT)) END"
    )
    return (
        base.withColumn("__vec", F.expr("array(" + ", ".join(dims) + ")"))
        .withColumn(
            "__nrm",
            F.expr(
                "sqrt(aggregate(__vec, CAST(0 AS DOUBLE), (a, x) -> a + x * x))"
            ),
        )
        .select(id_col, *passthrough, normed.alias("embedding"))
    )
