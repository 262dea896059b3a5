"""Benchmark decontamination: flag training documents that overlap an
evaluation/benchmark set by shared word n-grams.

The standard LLM training-data hygiene step (the GPT-3 appendix /
PaLM-style 13-gram rule): any training document sharing >= ``min_hits``
distinct k-grams with any eval document is contamination — leaving it in
the corpus inflates benchmark scores without improving the model.

Spark-first shape, designed for the real asymmetry of the problem: the
TRAINING side is the 100 TB corpus, the EVAL side is a handful of
benchmark suites (thousands to low millions of n-grams). So:

- the eval side is reduced to a DISTINCT (gram_hash, eval_id) frame and
  **broadcast** — the training scan never shuffles for the join;
- training-side grams are per-row array ops (tokenize -> k-gram ->
  array_distinct -> explode), no shuffle;
- the only exchange in the whole operator is the final per-training-doc
  aggregation, which is elided entirely when the input is already
  distributed by ``id_col`` (e.g. via queries.read_fanned);
- grams are compared by xxhash64 (JVM-codegen, 8 bytes each) rather than
  by string — the broadcast table stays small and equality is exact up
  to a 2^-64 collision, which only ever *over*-flags.

At a scale where the eval side outgrows a broadcast (it should not — a
benchmark suite that needs a terabyte of n-grams is a corpus, not a
benchmark), pass ``broadcast_eval=False`` to fall back to a shuffle
equi-join on the gram hash.

Both sides are canonicalized with text.norm_expr by default so cosmetic
differences (case, punctuation) do not hide contamination — same
canonicalization contract as operators.curation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark.operators import text as text_ops
from youtube_analytics_lakehouse_databricks_spark.operators.dedup import (
    _shingles_from_toks,
    _tokenized,
)

DEFAULT_NGRAM = 13  # the published decontamination n-gram size


def _gram_hashes(
    df: DataFrame, id_col: str, text_col: str, k: int, keep_empty: bool = False
) -> DataFrame:
    """(id, gram_hash) with per-doc DISTINCT k-grams, hashed JVM-side.
    One narrow projection chain + one explode — no shuffle. With
    ``keep_empty``, docs shorter than k tokens keep one NULL-gram row
    (explode_outer) so a downstream per-doc aggregation covers every
    input doc without a restore join."""
    sets = _tokenized(df, id_col, text_col).select(
        id_col, F.expr(f"array_distinct({_shingles_from_toks(k)})").alias("grams")
    )
    ex = F.explode_outer("grams") if keep_empty else F.explode("grams")
    # xxhash64(NULL) is NOT null (nulls are skipped, yielding the seed
    # hash), so gate it — the NULL row from explode_outer must stay NULL
    # or empty docs would count one phantom gram
    return sets.select(id_col, ex.alias("gram")).select(
        id_col,
        F.when(F.col("gram").isNotNull(), F.xxhash64("gram")).alias("gram_hash"),
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    eval_id_col: str | None = None,
    eval_text_col: str | None = None,
    k: int = DEFAULT_NGRAM,
    min_hits: int = 1,
    normalize: bool = True,
    broadcast_eval: bool = True,
) -> DataFrame:
    """One row per TRAINING doc:

    (id, n_grams, n_hit_grams, contamination_frac, matched_eval_id,
    is_contaminated)

    - n_grams: distinct k-grams in the training doc (0 for docs shorter
      than k tokens — those cannot be flagged and report clean);
    - n_hit_grams: how many of them appear anywhere in the eval set;
    - contamination_frac: n_hit_grams / n_grams (NULL when n_grams = 0);
    - matched_eval_id: lexicographic-min eval doc sharing a gram (NULL
      when NO gram matched) — the audit pointer a removal run logs. Note
      this is populated whenever ANY gram matched, even for docs below
      ``min_hits`` that report is_contaminated=False: sub-threshold
      overlap is exactly what a graded/tiered policy wants to audit;
    - is_contaminated: n_hit_grams >= min_hits.

    Every input training row appears exactly once in the output, so
    ``.filter(~F.col("is_contaminated"))`` is the decontaminated corpus.
    """
    eval_id = eval_id_col or id_col
    eval_text = eval_text_col or text_col
    if normalize:
        train = train.select(id_col, text_ops.norm_expr(text_col).alias(text_col))
        eval_df = eval_df.select(
            eval_id, text_ops.norm_expr(eval_text).alias(eval_text)
        )

    # eval side: distinct (gram_hash -> min eval id), the broadcast dim.
    # The groupBy keeps one row per gram so the join can't fan out a
    # training gram into multiple hit rows per eval doc.
    eval_grams = (
        _gram_hashes(eval_df, eval_id, eval_text, k)
        .groupBy("gram_hash")
        .agg(F.min(eval_id).alias("__eval_id"))
    )
    if broadcast_eval:
        eval_grams = F.broadcast(eval_grams)

    # training side keeps one NULL-gram row for docs shorter than k
    # tokens (explode_outer), so the per-doc aggregation below covers
    # every input doc — no restore join, ONE exchange in the operator
    tg = _gram_hashes(train, id_col, text_col, k, keep_empty=True)
    hits = tg.join(eval_grams, "gram_hash", "left")

    agg = hits.groupBy(id_col).agg(
        F.count("gram_hash").alias("n_grams"),
        F.count("__eval_id").alias("n_hit_grams"),
        F.min("__eval_id").alias("matched_eval_id"),
    )
    n_grams, n_hits = F.col("n_grams"), F.col("n_hit_grams")
    return agg.select(
        id_col,
        "n_grams",
        "n_hit_grams",
        F.when(n_grams > 0, n_hits.cast("double") / n_grams).alias(
            "contamination_frac"
        ),
        "matched_eval_id",
        (n_hits >= F.lit(min_hits)).alias("is_contaminated"),
    )


def semantic_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    eval_id_col: str | None = None,
    eval_vec_col: str | None = None,
    threshold: float = 0.9,
    eval_chunk_rows: int = 8192,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag training docs
    whose embedding is cosine-similar to ANY eval doc's. Catches the
    leakage n-gram decontamination misses — paraphrased or translated
    benchmark items share MEANING, not 13-gram spans (the same blind
    spot SemDeDup covers for dedup; semantic decontamination is the
    published companion practice).

    Output: one row per training doc — (id, max_eval_cosine,
    matched_eval_id, is_semantically_contaminated) — nothing dropped
    here; matched_eval_id names the most-similar eval doc whenever ANY
    similarity was computed (the review tier), and the flag fires at
    ``threshold``. Cosines are 1e-6-rounded (the engine's verdict
    precision). Ids must be integral on BOTH sides (loud ValueError
    otherwise — the curate() guard pattern); a zero-norm, NULL, or
    wrong-dimension training vector has no usable direction, so its row
    reports NULL cosine/match and a False flag (a doc with a missing or
    corrupt embedding must not kill the shard — the gate composition
    scores every input row), while a zero-norm EVAL vector raises (it
    could never match anything, which is a broken benchmark, not a
    scoring outcome).

    Scale shape (the n-gram operator's asymmetry, embedding edition):
    the eval side is benchmark-sized, so its normalized float64 matrix
    is collected ONCE (bounded: 1e5 eval docs x 1k dims ~= 800 MB
    float64 is the practical ceiling — a 'benchmark' beyond that is a
    corpus) and
    broadcast; the training side is ONE Arrow mapInPandas pass — a
    per-batch matmul against the eval matrix, chunked over eval rows so
    peak memory is bounded — with ZERO shuffle at any corpus size.
    Composable with curate() by filtering ids out beforehand or joining
    the flags into a custom gate; kept standalone so the audit schema
    stays stable (the n-gram gate remains curate()'s built-in).
    """
    import numpy as np

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    eval_id_col = eval_id_col or id_col
    eval_vec_col = eval_vec_col or vec_col
    # loud integral-id guard (the curate() lehmer-guard pattern): the
    # Arrow kernel carries ids as int64 and the output schema is typed
    # long — a string-keyed corpus would otherwise die inside the numpy
    # cast (or at schema mismatch) with no useful message
    integral = ("bigint", "int", "smallint", "tinyint")
    id_type = dict(train.dtypes)[id_col]
    ev_type = dict(eval_df.dtypes)[eval_id_col]
    if id_type not in integral or ev_type not in integral:
        raise ValueError(
            "semantic decontamination requires integral id columns "
            f"(got {id_col}: {id_type}, {eval_id_col}: {ev_type}); "
            "map string keys to a surrogate long first"
        )
    # collected in eval-id order: numpy argmax takes the FIRST max, so an
    # exact-tie match deterministically names the LOWEST eval id (and the
    # cross-engine oracle can mirror the tie-break as ORDER BY cos DESC,
    # eval id ASC)
    rows = eval_df.select(eval_id_col, eval_vec_col).orderBy(eval_id_col).collect()
    if not rows:
        raise ValueError("eval_df is empty — nothing to decontaminate against")
    eval_ids = np.array([r[eval_id_col] for r in rows], dtype=np.int64)
    emat = np.stack([np.asarray(r[eval_vec_col], dtype=np.float64) for r in rows])
    # float64 end to end: a float32 eval matrix costs ~1e-7 per cosine —
    # enough to flip the 1e-6-rounded verdicts against the cross-engine
    # oracle (measured); the eval side is bounded, so the 2x bytes are
    # control-plane noise
    # finite check FIRST: an inf component passes the zero-norm guard
    # (inf norm > 0) but normalizes to a NaN-bearing eval row, and the
    # chunked argmax then latches onto the NaN column — `cand > best` is
    # always False and the whole chunk silently contributes no matches
    # (contamination suppressed with no error). A NaN component would
    # instead fail the norm guard with a MISLEADING 'zero norm' message.
    # Mirrors the train-side non-finite mask (d813f39), but the eval set
    # is the contract side — it raises rather than audits.
    finite = np.isfinite(emat).all(axis=1)
    if not finite.all():
        bad = eval_ids[~finite][:5]
        raise ValueError(
            f"eval embeddings with non-finite components (ids {bad.tolist()}): "
            "NaN/inf has no direction and silently suppresses every match "
            "in its scoring chunk — fix the eval set"
        )
    enorm = np.linalg.norm(emat, axis=1, keepdims=True)
    if not np.all(enorm > 0):
        bad = eval_ids[enorm[:, 0] == 0][:5]
        raise ValueError(
            f"eval embeddings with zero norm (ids {bad.tolist()}): a zero "
            "vector has no direction and can never match — fix the eval set"
        )
    emat = emat / enorm
    bc = train.sparkSession.sparkContext.broadcast((eval_ids, emat))
    thr = float(threshold)
    chunk = max(1, int(eval_chunk_rows))

    def score(batches):
        import pandas as pd

        ids, em = bc.value
        dim = em.shape[1]
        for pdf in batches:
            if not len(pdf):
                continue
            # a NULL vector (doc with no embedding, e.g. after a left
            # join) or a WRONG-DIMENSION one (corrupt upstream embed) is
            # scored like a zero-norm one: NULL cosine/match, False flag
            # — np.stack on the raw column would instead kill the task
            # with a shape error. This matters since the gate composition
            # scores EVERY input row (r11 shuffle shape): a bad embedding
            # on a doc an earlier gate already dropped must not kill the
            # shard: a bad row yields a NULL/False audit row, never a
            # task failure.
            def _usable(v) -> bool:
                return v is not None and len(v) == dim

            unusable = np.fromiter(
                (not _usable(v) for v in pdf[vec_col]), dtype=bool, count=len(pdf)
            )
            m = np.stack(
                [
                    np.zeros(dim) if bad else np.asarray(v, dtype=np.float64)
                    for v, bad in zip(pdf[vec_col], unusable)
                ]
            )
            norms = np.linalg.norm(m, axis=1)
            # no usable direction -> cosine undefined: zero-norm, NULL,
            # wrong-dimension, or NON-FINITE (NaN/inf components give a
            # NaN norm, which would otherwise sail past every comparison
            # and emit -inf/eval-id-0 instead of the NULL audit row)
            zero = (norms == 0.0) | ~np.isfinite(norms) | unusable
            m = m / np.maximum(norms, 1e-30)[:, None]
            best = np.full(len(pdf), -np.inf, dtype=np.float64)
            best_id = np.zeros(len(pdf), dtype=np.int64)
            for s in range(0, len(ids), chunk):
                cos = m @ em[s : s + chunk].T
                j = np.argmax(cos, axis=1)
                cand = cos[np.arange(len(pdf)), j]
                upd = cand > best
                best[upd] = cand[upd]
                best_id[upd] = ids[s + j[upd]]
            best = np.round(best, 6)
            # zero-norm docs report NULL cosine/match and a False flag —
            # never a silent -inf row; the NULLs ARE the audit signal
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "max_eval_cosine": pd.array(
                        np.where(zero, np.nan, best), dtype="Float64"
                    ),
                    "matched_eval_id": pd.array(
                        [None if z else int(b) for z, b in zip(zero, best_id)],
                        dtype="Int64",
                    ),
                    "is_semantically_contaminated": np.where(zero, False, best >= thr),
                }
            )

    return train.select(id_col, vec_col).mapInPandas(
        score,
        f"{id_col} long, max_eval_cosine double, matched_eval_id long, "
        "is_semantically_contaminated boolean",
    )
