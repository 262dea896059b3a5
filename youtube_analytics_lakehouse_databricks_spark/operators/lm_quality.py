"""N-gram language-model perplexity scoring — the third standard quality
filter for pretraining corpora, alongside heuristic ratios
(text.quality_scores) and the learned classifier (classifier.py):
CCNet-style pipelines score every document against an n-gram LM trained
on a trusted reference corpus (e.g. Wikipedia) and gate or bucket on
perplexity. Reference semantics are public (CCNet, Wenzek et al. 2019;
Stupid Backoff, Brants et al. 2007); the implementation here is
engine-original and Spark-first.

Scoring uses STUPID BACKOFF — the scale-friendly scheme built for
distributed count tables: the score of token w after context c is

    S(w | c) = count(c w) / count(c)          if count(c w) > 0
             = alpha * S(w | shorter c)       otherwise

with S(w) = count(w) / N at the unigram floor and an out-of-vocabulary
epsilon 1 / (N + V). No discounting or normalization pass is needed, so
training is nothing but distributed gram counting — exactly what a
groupBy does well at corpus scale.

Scale shape:

- TRAINING is ONE explode+count aggregation over the order-tagged gram
  union (every order's grams ride a single corpus pass and a single
  (k, ctx, w) exchange, with map-side partial aggregation over the
  zipf-skewed gram keys; r16 — the previous one-agg-per-order shape
  re-scanned the corpus per order AND per consumer of each lazy order
  table, 6 passes at n=3) and n-1 equi-joins attaching each order's
  context count over the eagerly materialized counts; model tables stay
  DataFrames end to end — nothing corpus-sized touches the driver, and
  `save`/`load` round-trip the model through parquet.
- SCORING is one narrow gram explode of the probe corpus and n left
  equi-joins against the conditional tables, then one per-doc
  aggregation. The join keys are 128-bit double-xxhash64 of (ctx, w),
  computed in the explode projection — when the model is small Spark
  broadcasts it via AQE, and when it is NOT, the probe side exchanges
  (id + 2n longs) per gram rather than context strings (the
  substring_dedup precedent; collision expectation ~1e-15 at 1e12
  grams). Everything is whole-stage codegen — no Python in either path
  (plan-asserted in tests).

Tokenization is the engine's canonical form (text.norm_expr — lowercase,
punctuation stripped) so perplexity is invariant to the cosmetic
variants dedup already collapses.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark.operators.text import norm_expr

DEFAULT_ALPHA = 0.4  # the Stupid Backoff paper's constant


def _tok_arr():
    """Token array of the canonical __norm column."""
    return F.expr("filter(split(__norm, ' '), x -> x <> '')")


def _grams(k: int):
    """Array of order-k gram structs (ctx: first k-1 tokens joined by a
    space — '' for k=1 — and w: the final token) over token array __t.

    The size guard matters: Spark's sequence(1, stop) with stop < 1
    DESCENDS (1, 0, ...) instead of returning empty, so an unguarded
    transform would fabricate grams for docs shorter than k tokens."""
    if k == 1:
        return F.expr("transform(__t, x -> struct('' as ctx, x as w))")
    return F.expr(
        f"case when size(__t) >= {k} then "
        f"transform(sequence(1, size(__t) - {k - 1}), "
        f"i -> struct(concat_ws(' ', slice(__t, i, {k - 1})) as ctx, "
        f"element_at(__t, i + {k - 1}) as w)) "
        f"else array() end"
    )


@dataclass
class NgramLM:
    """Distributed n-gram LM: per-order conditional tables
    (ctx, w, s = count(ctx w)/count(ctx)); unigram table has ctx = ''
    and s = count(w)/N. All counts survive in the tables (c column) so
    the model composes (inspection, pruning, further smoothing)."""

    n: int
    alpha: float
    n_tokens: int
    vocab_size: int
    orders: list[DataFrame]  # orders[k-1] = order-k table

    def save(self, path: str) -> None:
        spark = self.orders[0].sparkSession
        for k, t in enumerate(self.orders, start=1):
            # REBALANCE: let AQE size the output files by bytes instead
            # of inheriting the training frame's partition count — a
            # bench-scale model otherwise lands as 32 KB-sized files per
            # order and every later load/broadcast pays 32 read tasks
            # per table (guide §6 small-files); at 100 TB the same hint
            # yields advisory-sized files, so it is scale-adaptive.
            t.hint("rebalance").write.mode("overwrite").parquet(f"{path}/order={k}")
        meta = spark.createDataFrame(
            [(self.n, float(self.alpha), self.n_tokens, self.vocab_size)],
            "n int, alpha double, n_tokens long, vocab_size long",
        )
        meta.write.mode("overwrite").parquet(f"{path}/_meta")

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "NgramLM":
        m = spark.read.parquet(f"{path}/_meta").collect()[0]
        orders = [
            spark.read.parquet(f"{path}/order={k}") for k in range(1, m["n"] + 1)
        ]
        return cls(
            n=m["n"],
            alpha=m["alpha"],
            n_tokens=m["n_tokens"],
            vocab_size=m["vocab_size"],
            orders=orders,
        )


def train_ngram_lm(
    df: DataFrame,
    text_col: str,
    *,
    n: int = 3,
    alpha: float = DEFAULT_ALPHA,
    min_count: int = 1,
) -> NgramLM:
    """Count-based Stupid Backoff model from a reference corpus.

    ``min_count`` prunes grams of order >= 2 rarer than the threshold
    (unigrams are never pruned — they are the backoff floor). Pruning a
    gram simply routes its probes to the next-lower order, the same
    graceful degradation Stupid Backoff applies to unseen grams.
    """
    from youtube_analytics_lakehouse_databricks_spark.operators.lineage import cut

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = df.select(norm_expr(text_col).alias("__norm")).select(
        _tok_arr().alias("__t")
    )
    # ONE corpus pass for every order (r16): the per-order gram arrays
    # are tagged with their order and exploded TOGETHER, so the corpus
    # is scanned/normalized/tokenized once and all orders' counts ride
    # one (k, ctx, w) exchange. The previous shape ran one explode+agg
    # per order: the model's lazy order tables re-derived their count
    # subtrees at every consumer (the n-order union plan paid 5 corpus
    # scans at n=3 — counts for orders 1 and 2 are each needed twice,
    # as an order table and as the next order's context), plus one more
    # for the totals collect. The eager lineage cut materializes the
    # combined counts once — bounded: one row per distinct gram per
    # order, the same frames the model already kept as DataFrames —
    # and every downstream consumer (totals, order tables, context
    # joins, save()) reads those blocks instead of re-counting.
    tagged = []
    for k in range(1, n + 1):
        if k == 1:
            tagged.append("transform(__t, x -> struct(1 as k, '' as ctx, x as w))")
        else:
            tagged.append(
                f"case when size(__t) >= {k} then "
                f"transform(sequence(1, size(__t) - {k - 1}), "
                f"i -> struct({k} as k, concat_ws(' ', slice(__t, i, {k - 1})) as ctx, "
                f"element_at(__t, i + {k - 1}) as w)) "
                f"else array() end"
            )
    all_grams = toks.select(
        F.explode(F.expr("concat(" + ", ".join(tagged) + ")")).alias("g")
    )
    # the unigram totals (n_tokens, vocab) ride the SAME eager-cut job
    # as an Observation metric (r17, the connected_components pattern):
    # they accumulate as the combined counts stream into the checkpoint,
    # so training runs ONE job here instead of a cut job plus a separate
    # totals aggregation over the checkpointed blocks
    from pyspark.sql import Observation

    obs = Observation()
    combined = cut(
        all_grams.groupBy(
            F.col("g.k").alias("__k"), F.col("g.ctx").alias("ctx"), F.col("g.w").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .observe(
            obs,
            F.sum(F.when(F.col("__k") == 1, F.col("c"))).alias("n_tokens"),
            F.count(F.when(F.col("__k") == 1, 1)).alias("vocab"),
        ),
        eager=True,
    )
    # raw count tables (ctx, w, c) per order — filters over the one
    # materialized frame, byte-identical to the per-order aggregations
    counts = [
        combined.filter(F.col("__k") == k).select("ctx", "w", "c")
        for k in range(1, n + 1)
    ]

    totals = obs.get
    n_tokens, vocab = int(totals["n_tokens"] or 0), int(totals["vocab"])
    if n_tokens == 0:
        raise ValueError("training corpus has no tokens")

    orders: list[DataFrame] = [
        counts[0].select(
            "ctx", "w", "c", (F.col("c").cast("double") / F.lit(float(n_tokens))).alias("s")
        )
    ]
    for k in range(2, n + 1):
        # context count: the order-(k-1) RAW count of the first k-1
        # tokens — join key is the full lower-order gram string
        ctx_counts = counts[k - 2].select(
            F.when(F.col("ctx") == "", F.col("w"))
            .otherwise(F.concat_ws(" ", "ctx", "w"))
            .alias("ctx"),
            F.col("c").alias("__ctx_c"),
        )
        tbl = (
            counts[k - 1]
            .filter(F.col("c") >= F.lit(int(min_count)))
            .join(ctx_counts, "ctx")
            .select(
                "ctx",
                "w",
                "c",
                (F.col("c").cast("double") / F.col("__ctx_c")).alias("s"),
            )
        )
        orders.append(tbl)
    return NgramLM(
        n=n, alpha=float(alpha), n_tokens=n_tokens, vocab_size=vocab, orders=orders
    )


def _parse_bytes(v: str) -> int:
    """Spark size-conf string ('10485760', '10485760b', '10m', '1g') -> bytes."""
    v = v.strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
        if v.endswith(suf):
            v, mult = v[: -len(suf)], m
            break
    try:
        return int(float(v)) * mult
    except ValueError:
        return 10 << 20


def score_perplexity(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: NgramLM,
    *,
    broadcast_model: bool | None = None,
) -> DataFrame:
    """(id, n_scored_grams, avg_logprob, perplexity, scored) per doc.

    Every full-context position (token index >= n-1 after canonical
    tokenization) contributes one Stupid Backoff score; the doc's
    perplexity is exp(-mean ln S). Documents with fewer than n tokens
    report scored = false with NULL metrics — surfaced, never silently
    dropped (the caller's length gate owns short docs).

    ``broadcast_model``: whether to hint the n per-order join build
    sides broadcast. Default (None) decides from KNOWN control-plane
    metadata instead of hoping AQE re-plans: each order table has at
    most ``n_tokens`` rows (every corpus position mints at most one new
    gram per order), ~40 B/row hashed, so the hint fires iff that bound
    fits the session's autoBroadcastJoinThreshold. Without it, Spark's
    static planner can leave a checkpointed/loaded model table (whose
    LogicalRDD/scan stats read as unknown-large) on the sort-merge
    path even when it is kilobytes (measured: 2.76 MB probe shuffle and
    2x wall at the 1x scaling corpus). A genuinely huge reference LM
    (n_tokens x 40 B over threshold) keeps broadcast_model=False
    semantics: the probe shuffles 8-byte hash keys, never strings.
    """
    n, alpha = model.n, model.alpha
    if broadcast_model is None:
        thresh = _parse_bytes(
            str(
                df.sparkSession.conf.get(
                    "spark.sql.autoBroadcastJoinThreshold", str(10 << 20)
                )
            )
        )
        # per-order build sides: each is ONE table of at most n_tokens
        # rows (~40 B/row hashed)
        broadcast_model = thresh > 0 and model.n_tokens * 40 <= thresh
    oov = 1.0 / float(model.n_tokens + model.vocab_size)
    toks = df.select(
        F.col(id_col), norm_expr(text_col).alias("__norm")
    ).select(id_col, _tok_arr().alias("__t"))

    # Per-order join keys are TWO INDEPENDENT xxhash64s of (ctx_k, w) —
    # 128 bits, the substring_dedup collision budget (dedup.py) — hashed
    # in the SAME projection as the gram explode, so when the model is
    # too big to broadcast the probe side shuffles (id + 2n longs) per
    # gram instead of up-to-(n-1)-token context STRINGS per order (the
    # r8 VERDICT note). Order-k context for a top-order gram is its LAST
    # k-1 context tokens; the order index salts the hash seeds so equal
    # strings never alias across orders.
    def _keys(k: int, ctx, w):
        return (
            F.xxhash64(F.lit(2 * k), ctx, w),
            F.xxhash64(F.lit(2 * k + 1), ctx, w),
        )

    # Docs too short to score (fewer than n tokens -> empty gram array)
    # keep ONE sentinel row via explode_outer instead of being restored
    # by a corpus-wide left join afterwards (r16 — that join was the
    # plan's only SortMergeJoin: an extra Exchange + two Sorts over the
    # whole corpus id set, guide §2.4/§3). The sentinel's join keys are
    # forced NULL (xxhash64 would otherwise hash just the seed literal),
    # so no order table can match it, and the per-doc aggregation
    # excludes it via the __real flag.
    key_cols = []
    for k in range(n, 0, -1):
        if k == n:
            ctx_k = F.col("g.ctx")
        elif k == 1:
            ctx_k = F.lit("")
        else:
            ctx_k = F.expr(
                f"concat_ws(' ', slice(split(g.ctx, ' '), -{k - 1}, {k - 1}))"
            )
        h1, h2 = _keys(k, ctx_k, F.col("g.w"))
        real = F.col("g").isNotNull()
        key_cols += [
            F.when(real, h1).alias(f"__h1_{k}"),
            F.when(real, h2).alias(f"__h2_{k}"),
        ]
    grams = toks.select(id_col, F.explode_outer(_grams(n)).alias("g")).select(
        id_col, F.col("g").isNotNull().alias("__real"), *key_cols
    )

    # One left join per order, highest first, keyed on the hashes, each
    # against ITS OWN order table (r17 — reverted from r16's shared
    # k-tagged union build: the union made every build side a 3-scan
    # plan whose dedup relied entirely on runtime exchange reuse, and
    # the driver's ground truth measured the shape 62% SLOWER at bench
    # scale, PERF_r16 0.507 -> 0.824 s; in the over-threshold shuffle
    # path it was also strictly worse — every join's build read/sorted
    # n x the rows it could match. Per-order builds are each one small
    # table scan; the r16 sentinel-row win below is kept).
    scored = grams
    score_cols = []
    for k in range(n, 0, -1):
        b1, b2 = _keys(k, F.col("ctx"), F.col("w"))
        tbl = model.orders[k - 1].select(
            b1.alias(f"__b1_{k}"),
            b2.alias(f"__b2_{k}"),
            F.col("s").alias(f"__s{k}"),
        )
        if broadcast_model:
            tbl = F.broadcast(tbl)
        scored = scored.join(
            tbl,
            (F.col(f"__h1_{k}") == F.col(f"__b1_{k}"))
            & (F.col(f"__h2_{k}") == F.col(f"__b2_{k}")),
            "left",
        ).drop(f"__b1_{k}", f"__b2_{k}", f"__h1_{k}", f"__h2_{k}")
        score_cols.append(f"__s{k}")

    # stupid backoff: s_n, else alpha*s_{n-1}, ..., else alpha^{n-1}*oov
    expr = F.lit(oov)
    for i, c in enumerate(reversed(score_cols)):  # __s1 .. __sn
        expr = F.coalesce(F.col(c), F.lit(alpha) * expr) if i else F.coalesce(
            F.col(c), expr
        )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.when(F.col("__real"), 1)).alias("n_scored_grams"),
        F.avg(F.when(F.col("__real"), F.log(expr))).alias("avg_logprob"),
    )
    return per_doc.select(
        id_col,
        F.col("n_scored_grams").cast("long").alias("n_scored_grams"),
        F.col("avg_logprob"),
        F.exp(-F.col("avg_logprob")).alias("perplexity"),
        F.col("avg_logprob").isNotNull().alias("scored"),
    )


def perplexity_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: NgramLM,
    *,
    n_buckets: int = 3,
    accuracy: int = 10000,
    durable: bool = False,
) -> DataFrame:
    """Input columns + ``ppl_bucket``: the CCNet head/middle/tail split —
    docs bucketed by which perplexity quantile they fall in against the
    reference-corpus LM (bucket 'head' = lowest-perplexity / most
    reference-like). n_buckets=3 labels buckets head/middle/tail (the
    CCNet terms); other counts label b0..b{n-1}. Docs too short to score
    get a NULL bucket — surfaced, never dropped (the length gate owns
    them, and NULL flows through mixture_sample's null-safe domain join
    as its own stratum).

    Scale shape: one scoring pass (see score_perplexity) + ONE
    percentile_approx aggregation whose output is n_buckets-1 scalars on
    the driver (bounded control plane, the CCNet recipe: cutoffs come
    from a sketch, not a global sort) + one broadcast-free bucketize
    CASE over the scored frame. No corpus shuffle beyond scoring's own.
    "One scoring pass" is enforced, not hoped for: ``scored`` has two
    consumers (the cutoff collect and the output join), so without a
    lineage cut the full corpus explode + n hash joins + per-doc agg
    would execute TWICE; the lazy localCheckpoint (curation.py's
    pattern) materializes the 5 narrow per-doc columns at the cutoff
    collect and the join reads blocks. ``durable=True`` swaps in the
    reliable checkpoint (see operators.lineage).
    """
    from youtube_analytics_lakehouse_databricks_spark.operators.lineage import cut

    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    scored = cut(score_perplexity(df, id_col, text_col, model), durable=durable)
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = (
        scored.filter("scored")
        .agg(F.percentile_approx("perplexity", qs, F.lit(int(accuracy))).alias("c"))
        .collect()[0]["c"]
    )
    if cuts is None:
        raise ValueError("no scorable documents to bucket")
    if n_buckets == 3:
        labels = ["head", "middle", "tail"]
    else:
        labels = [f"b{i}" for i in range(n_buckets)]
    bucket = F.lit(labels[-1])
    for i in range(n_buckets - 2, -1, -1):
        bucket = F.when(
            F.col("perplexity") <= F.lit(float(cuts[i])), F.lit(labels[i])
        ).otherwise(bucket)
    bucket = F.when(F.col("scored"), bucket)  # NULL for unscorable docs
    return df.join(
        scored.select(id_col, "scored", "perplexity"), id_col
    ).select(*df.columns, bucket.alias("ppl_bucket"))
