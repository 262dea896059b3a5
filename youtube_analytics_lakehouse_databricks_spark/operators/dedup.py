"""Deduplication operators over arbitrary DataFrames.

Four families, all expressed as compositions of built-in DataFrame ops
(shuffle-on-derived-key; no O(n^2) stages):

- MinHash + LSH: shingle -> per-seed min sha256 -> band keys -> equi-join
  candidates;
- n-gram Jaccard: distinct-shingle self-join (brute verify) or candidate-
  restricted verify (the scale path);
- paragraph dedup: exact canonical-paragraph hashes, first occurrence kept;
- substring dedup: repeated token windows removed (the suffix-array rule).

Hashes are sha256 hex (lexicographic min is a valid uniform min-hash);
everything is deterministic and engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark.operators.text import norm_expr


def _tokenized(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, toks): materialize the token array as its own projection so
    downstream lambdas slice a BOUND COLUMN. Inlining the split() into
    the shingle lambda would re-run it once per produced shingle —
    common-subexpression elimination does not reach inside higher-order-
    function lambdas — turning shingling O(tokens^2) per doc. toks is
    referenced 3x downstream, so CollapseProject keeps the barrier."""
    return df.select(
        id_col, F.expr(f"filter(split({text_col}, ' '), x -> x <> '')").alias("toks")
    )


def _shingles_from_toks(k: int) -> str:
    """SQL expr: array of overlapping k-word shingles of the bound `toks`
    array — per-row transform over start offsets, slice+concat_ws; no
    shuffle, no window. Docs with < k tokens yield an empty array (the
    guard avoids sequence()'s descending-range trap when size < k)."""
    return (
        f"CASE WHEN size(toks) >= {k} THEN "
        f"transform(sequence(0, size(toks) - {k}), "
        f"i -> concat_ws(' ', slice(toks, i + 1, {k}))) "
        f"ELSE CAST(array() AS array<string>) END"
    )


def shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, shingle): overlapping k-word shingles — explode the start
    offsets, then index the bound toks array directly (toks[i]..toks[i+k-1]
    + concat_ws). Same multiset as the classic posexplode+lead shape but
    with ZERO shuffle and zero higher-order lambdas: generator + element
    access + concat all stay in whole-stage codegen (measured ~25% faster
    than a transform()-lambda array build, ~25% than the window form)."""
    t = _tokenized(df, id_col, text_col).filter(F.size("toks") >= k)
    e = t.select(id_col, "toks", F.explode(F.expr(f"sequence(0, size(toks) - {k})")).alias("i"))
    parts = [F.expr(f"toks[i + {j}]") for j in range(k)]
    return e.select(id_col, F.concat_ws(" ", *parts).alias("shingle"))


def shingle_sets(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, shset, n_shingles): per-doc DISTINCT shingle set as an array
    column — still zero-shuffle. Feeds array_intersect Jaccard
    verification without ever exploding shingles into rows."""
    return (
        _tokenized(df, id_col, text_col)
        .select(id_col, F.expr(f"array_distinct({_shingles_from_toks(k)})").alias("shset"))
        .withColumn("n_shingles", F.size("shset"))
    )


SLICES_PER_DIGEST = 4  # four 16-hex-char (64-bit) minhashes per sha256


def jaccard_verify_sets(
    doc_sets: DataFrame,
    id_col: str,
    candidates: DataFrame,
    threshold: float,
    *,
    durable: bool = False,
    reduce_sets: bool = True,
) -> DataFrame:
    """Exact shingle-set Jaccard >= threshold over candidate pairs, with
    the sets kept as arrays: |A ∩ B| via array_intersect, union by
    inclusion-exclusion — no shingle-level explode or join anywhere.
    Not lazy with ``reduce_sets`` on (the default): the call itself runs
    Spark jobs — it materializes the candidates and counts them to pick
    the join strategy. The member sets are cut too and materialize on
    the first action over the returned frame.

    The sets frame is first cut down to CANDIDATE MEMBERS with a
    semi-join on the (bounded: <= 2 * |candidates|) distinct id set —
    r16, guide §3.2's semi-join reduction: candidates are a tiny
    fraction of the corpus after banding + the hot-bucket cap, so
    without it both join legs computed shingle-set arrays for EVERY
    corpus document and the planner broadcast the full corpus-sized
    b-leg (measured at sf0.1: 5000 docs' sets built twice + broadcast
    for 773 member docs; the semi-join pushes below the set projection,
    so non-members never tokenize).

    r17 — the candidates frame has three consumers (member-id list,
    verify probe, and the count below), so it is MATERIALIZED once with
    a lineage cut instead of relying on runtime exchange reuse across
    two static copies of the banding pipeline (the r16 shape; the
    driver measured its replan + duplicate broadcast builds at ~0.5 s
    on the bench row). The materialized count is then the control-plane
    bound that decides the join strategy, replacing r16's UNCONDITIONAL
    broadcast hint (which ignored autoBroadcastJoinThreshold and could
    not degrade — a multi-GB forced member-id broadcast at corpus-scale
    candidate counts is a driver/executor OOM, the ADVICE r16 hazard):
    when 2 * |candidates| ids provably fit the session's threshold, the
    member-id semi-join and the verify probe are hinted broadcast; when
    they do not, both joins stay unhinted — AQE picks the strategy, and
    the worst case degrades to shuffling member-only set arrays on doc
    id — still O(candidates + corpus-scan), never O(pairs).

    ``reduce_sets=False`` skips the cut + member reduction for callers
    that already restrict and pin the frames themselves
    (curation_incremental's stored-index probe, which passes
    batch-bounded pre-broadcast frames)."""
    from youtube_analytics_lakehouse_databricks_spark.operators.lineage import cut
    from youtube_analytics_lakehouse_databricks_spark.operators.lm_quality import (
        _parse_bytes,
    )

    if reduce_sets:
        candidates = cut(candidates, durable=durable)
        # control-plane count over the just-materialized blocks (the
        # same job materializes them — one pass, then every consumer
        # below reads blocks)
        n_cand = candidates.count()
        thresh = _parse_bytes(
            str(
                doc_sets.sparkSession.conf.get(
                    "spark.sql.autoBroadcastJoinThreshold", str(10 << 20)
                )
            )
        )
        # <= 2 ids per pair, ~64 B/id framed in a broadcast relation
        small = thresh > 0 and 2 * n_cand * 64 <= thresh
        member_ids = candidates.select(
            F.explode(F.array("doc_a", "doc_b")).alias(id_col)
        ).distinct()
        if small:
            member_ids = F.broadcast(member_ids)
        # the member sets feed BOTH verify legs: cut them too, so the
        # corpus scan + semi-join + set projection run once instead of
        # once per leg (r17, interleaved A/B med 1.87 -> 1.73 s at
        # sf0.1; at 100 TB it halves the verify stage's corpus scans).
        # The blocks are candidate-bounded: <= 2 * |candidates| rows.
        member_sets = cut(
            doc_sets.join(member_ids, id_col, "left_semi"), durable=durable
        )
        if small:
            candidates = F.broadcast(candidates)
    else:
        member_sets = doc_sets
    a = member_sets.select(
        F.col(id_col).alias("doc_a"),
        F.col("shset").alias("set_a"),
        F.col("n_shingles").alias("na"),
    )
    b = member_sets.select(
        F.col(id_col).alias("doc_b"),
        F.col("shset").alias("set_b"),
        F.col("n_shingles").alias("nb"),
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(sh: DataFrame, id_col: str, n_hashes: int = 8) -> DataFrame:
    """One row per id with n lexicographic-min minhash columns mh0..mhN-1.

    Sliced-digest derivation: each SEEDED sha256 digest (64 hex chars) is
    cut into four disjoint 16-hex-char (64-bit) slices — four independent
    uniform hash functions for ONE sha2 evaluation, so n minhashes cost
    ceil(n/4) sha2 calls per shingle instead of n. sha2 over the shingle
    corpus is the dominant CPU cost of signature computation at any
    scale; subexpression elimination in the codegen'd partial aggregation
    evaluates each seeded digest once across its four min() aggregates.
    Lexicographic min of a fixed-width slice is a valid uniform min-hash;
    64 bits keeps slice-collision probability negligible for any
    realistic shingle-set size."""
    aggs = []
    for i in range(n_hashes):
        seed, sl = divmod(i, SLICES_PER_DIGEST)
        digest = F.sha2(F.concat_ws("|", F.lit(str(seed)), F.col("shingle")), 256)
        aggs.append(F.min(F.substring(digest, 1 + 16 * sl, 16)).alias(f"mh{i}"))
    return sh.groupBy(id_col).agg(*aggs)


DEFAULT_MAX_BUCKET_SIZE = 1024


def _banded_exploded(banded: DataFrame, id_col: str, band_cols: list[str]) -> DataFrame:
    return banded.select(
        id_col, F.posexplode(F.array(*band_cols)).alias("band_idx", "band_key")
    )


def band_buckets(banded: DataFrame, id_col: str, band_cols: list[str]) -> DataFrame:
    """(band_idx, band_key, ids): every collision bucket (>= 2 members)
    with its sorted member-id list. The ONE band-key shuffle every
    consumer shares — candidate expansion and the hot-bucket audit both
    derive from this frame, so when a query uses both, Spark's exchange
    reuse materializes the aggregation once."""
    ex = _banded_exploded(banded, id_col, band_cols)
    return (
        ex.groupBy("band_idx", "band_key")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )


def candidates_from_buckets(
    buckets: DataFrame, max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs from ``band_buckets`` output, with
    over-cap buckets dropped (see band_join_candidates)."""
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    # ids is sorted, so pairing each element with its successors yields
    # exactly the doc_a < doc_b pairs.
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (a, i) -> "
                "transform(slice(ids, i + 2, size(ids)), b -> struct(a AS doc_a, b AS doc_b))))"
            )
        ).alias("p")
    )
    return pairs.select("p.doc_a", "p.doc_b").distinct()


def dropped_bucket_members(
    buckets: DataFrame, id_col: str, max_bucket_size: int = DEFAULT_MAX_BUCKET_SIZE
) -> DataFrame:
    """Distinct ids that sat in at least one over-cap (dropped) bucket —
    the per-DOC audit complement of ``oversized_band_buckets``: these are
    exactly the docs whose near-dup candidate generation was incomplete.
    Shares the band_buckets exchange with candidates_from_buckets."""
    return (
        buckets.filter(F.size("ids") > max_bucket_size)
        .select(F.explode("ids").alias(id_col))
        .distinct()
    )


def band_join_candidates(
    banded: DataFrame,
    id_col: str,
    band_cols: list[str],
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing >= 1 band key.

    One posexplode over the band array -> groupBy (band_idx, band_key)
    collecting each bucket's sorted id list -> JVM-side pair expansion
    via nested transform. ONE shuffle on the band key, and the upstream
    (possibly expensive) signature computation runs exactly once — no
    self-join legs, no cache to pin.

    Hot-bucket guard: buckets larger than ``max_bucket_size`` are DROPPED
    before pair expansion, the standard production-dedup skew cap. A band
    key shared by a huge fraction of the corpus (boilerplate, near-empty
    docs) carries no discriminating information, but would otherwise
    expand to O(|bucket|^2) pairs inside one task — 10^4 docs on one key
    is 5*10^7 pairs, 10^6 would be 5*10^11 and a guaranteed executor
    death at 100 TB. The guard bounds any task's output at
    ~max_bucket_size^2/2 pairs; the aggregation buffer stays O(bucket)
    (linear, not quadratic). Audit the dropped keys with
    ``oversized_band_buckets`` (same arguments) or per-doc with
    ``dropped_bucket_members``. Pass ``None`` to disable.
    """
    return candidates_from_buckets(
        band_buckets(banded, id_col, band_cols), max_bucket_size=max_bucket_size
    )


def oversized_band_buckets(
    banded: DataFrame,
    id_col: str,
    band_cols: list[str],
    max_bucket_size: int = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """(band_idx, band_key, bucket_size) for every bucket the candidate
    generator drops under ``max_bucket_size`` — the skew audit to run (and
    log/persist) alongside dedup so dropped keys are never silent. Count
    aggregation only (map-side combined): never materializes id lists."""
    ex = _banded_exploded(banded, id_col, band_cols)
    return (
        ex.groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket_size)
    )


def lsh_candidates(
    sig: DataFrame,
    id_col: str,
    n_hashes: int = 8,
    rows_per_band: int = 2,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing at least one band key,
    with hot buckets above ``max_bucket_size`` dropped (see
    band_join_candidates)."""
    bands = n_hashes // rows_per_band
    banded = sig.select(
        id_col,
        *[
            F.sha2(
                F.concat_ws("|", *[f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]),
                256,
            ).alias(f"band{b}")
            for b in range(bands)
        ],
    )
    return band_join_candidates(
        banded, id_col, [f"band{b}" for b in range(bands)], max_bucket_size=max_bucket_size
    )


def jaccard_verify(
    sh: DataFrame,
    id_col: str,
    threshold: float,
    candidates: DataFrame | None = None,
    already_distinct: bool = False,
) -> DataFrame:
    """Exact shingle-set Jaccard >= threshold. With ``candidates`` given,
    verifies O(candidates) (the 100 TB shape); otherwise brute self-join.
    Pass ``already_distinct=True`` when ``sh`` is a pre-deduped (and
    ideally cached) shingle set, to skip the distinct shuffle here — the
    distinct frame is read three times (two join legs + sizes)."""
    ds = sh if already_distinct else sh.distinct()
    sizes = ds.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    if candidates is None:
        a = ds.select(F.col(id_col).alias("doc_a"), "shingle")
        b = ds.select(F.col(id_col).alias("doc_b"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        sh_a = ds.select(F.col(id_col).alias("doc_a"), "shingle")
        sh_b = ds.select(F.col(id_col).alias("doc_b"), "shingle")
        inter = (
            candidates.join(sh_a, "doc_a")
            .join(sh_b, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_inter").cast("double") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def paragraph_units(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    split_pattern: str = r"\n{2,}",
) -> DataFrame:
    """(id, para_pos, para): one row per paragraph, position-preserving.

    posexplode over a regex split — narrow (no shuffle); empty fragments
    produced by leading/trailing/repeated delimiters are dropped, but
    positions keep the ORIGINAL split indices so reassembly order is the
    document's own.
    """
    return (
        df.select(
            id_col,
            F.posexplode(F.split(F.col(text_col), split_pattern)).alias(
                "para_pos", "para"
            ),
        )
        .filter(F.length(F.trim("para")) > 0)
    )


def _hashed_units(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    split_pattern: str,
    normalize: bool,
    min_chars: int,
) -> DataFrame:
    """(id, para_pos, para, __exempt, __h): paragraph units with their
    canonical dedup hash — the shared vocabulary of paragraph_dedup,
    paragraph_hash_keys, and the incremental curation index."""
    units = paragraph_units(df, id_col, text_col, split_pattern=split_pattern)
    canon = norm_expr("para") if normalize else F.col("para")
    return units.withColumn("__exempt", F.length("para") < min_chars).withColumn(
        "__h", F.sha2(canon, 256)
    )


def paragraph_hash_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    split_pattern: str = r"\n{2,}",
    normalize: bool = True,
    min_chars: int = 30,
) -> DataFrame:
    """Single-column (para_hash) frame: the DISTINCT canonical hashes of
    every dedup-eligible (non-exempt) paragraph in ``df`` — what an
    incremental curation state persists so later batches dedup against
    the full history. Parameters must match the paragraph_dedup call."""
    return (
        _hashed_units(
            df,
            id_col,
            text_col,
            split_pattern=split_pattern,
            normalize=normalize,
            min_chars=min_chars,
        )
        .filter(~F.col("__exempt"))
        .select(F.col("__h").alias("para_hash"))
        .distinct()
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    split_pattern: str = r"\n{2,}",
    joiner: str = "\n\n",
    normalize: bool = True,
    min_chars: int = 30,
    seen: DataFrame | None = None,
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (the C4 / RefinedWeb rule):
    every paragraph is kept only at its FIRST occurrence in the corpus
    (lowest (id, position)); later copies are removed from their documents
    and the survivors are stitched back together in document order.

    Output: one row per input document —
    (id, text_deduped, n_paras, n_kept, n_dropped) —
    with n_paras = 0 and text_deduped = '' for documents with no
    non-empty paragraph. Documents are never dropped; a document whose
    every paragraph is boilerplate survives as an empty string for the
    caller's length gate to handle.

    Paragraphs shorter than ``min_chars`` are EXEMPT from dedup (always
    kept): short fragments ("Introduction", dates, "***") collide across
    unrelated documents, and removing them destroys documents that share
    nothing — the same exemption C4 applies at the line level (reference
    semantics; engine-original implementation).

    Scale shape — built for the operator's actual operating regime, a
    corpus where some paragraphs repeat MILLIONS of times (nav menus,
    cookie banners, licence footers):

    - first-occurrence winners come from ``groupBy(hash).agg(min(struct
      (id, pos)))``, not a window: min() partial-aggregates map-side, so
      a million-copy boilerplate hash collapses to one row per input
      partition BEFORE the exchange — a ``row_number() over (partition
      by hash)`` window would instead sort the entire hot key in one
      task. The aggregation carries only (hash, id, pos), never text.
    - the winner set derives the LOSER set — only the duplicated
      occurrences, proportional to the corpus dup rate — via a
      keys-only (id, pos) anti-join. (id, pos) is uniform by
      construction even when the hash key is pathologically skewed.
    - paragraph TEXT never enters the dedup pipeline at all (the r9
      restructure, same shape as substring_dedup): the hash keys are
      projected out of a keys-only posexplode, losers collapse to ONE
      sorted drop-position list per affected doc (keys-only groupBy,
      rows proportional to the dup rate), and the rebuild is a per-row
      indexed ``filter()`` lambda over the doc's own paragraph array —
      no text-carrying unit rows, no collect_list reassembly exchange.
      The previous design exploded text into unit rows and reassembled
      them with a groupBy: measured 18.2x/decade shuffle growth at the
      10x->100x corpus because document text crossed the (id, pos)
      anti-join and the reassembly exchanges; this shape measures
      11.2x/decade with 1.6x less absolute shuffle at 100x (576->350
      MB) and lower wall at every scale — and the bytes that remain are
      the test harness's doc_id fan-out of the small input, which a
      real-scale scan doesn't pay.

    Keys-only exchanges throughout (hash agg, loser anti-join, drop-list
    agg — which reuses the input's id partitioning when present), all
    skew-safe; no UDFs, everything whole-stage codegen.

    ``seen``: an optional single-column ``para_hash`` frame of hashes
    already claimed by an EARLIER corpus (the incremental-curation
    state). Paragraphs hashing into ``seen`` are dropped from every
    document here — they can never win, their first occurrence lives in
    the stored corpus. The probe never shuffles ``seen``: it is
    semi-joined down to this corpus's (small) key set via a broadcast
    key list, then broadcast into an anti-join — the same stored-index
    probe shape as curation_incremental's hash/band stages.
    """
    # Only (id, pos, hash) rows ever leave the keys projection (the
    # substring_dedup stage-fusion contract). The split stays INLINE in
    # the Generate: pre-materializing the paragraph array in a Project
    # below the explode copies every paragraph string into an
    # UnsafeArrayData first — measured 5.6x slower for the identical
    # logical plan (0.63 s vs 3.51 s at the 10x scaling corpus).
    canon = norm_expr("para") if normalize else F.col("para")
    all_keys = (
        df.select(
            id_col,
            F.posexplode(F.split(F.col(text_col), split_pattern)).alias(
                "para_pos", "para"
            ),
        )
        # non-empty AND dedup-eligible (exempt shorts never dedup)
        .filter((F.length(F.trim("para")) > 0) & (F.length("para") >= min_chars))
        .select(id_col, "para_pos", F.sha2(canon, 256).alias("__h"))
    )
    cand_keys = all_keys
    if seen is not None:
        stored_hits = seen.select(F.col("para_hash").alias("__h")).join(
            F.broadcast(all_keys.select("__h").distinct()), "__h", "left_semi"
        )
        cand_keys = all_keys.join(F.broadcast(stored_hits), "__h", "left_anti")
    winners = (
        cand_keys.groupBy("__h")
        .agg(F.min(F.struct(id_col, "para_pos")).alias("__w"))
        .select(
            F.col(f"__w.{id_col}").alias(id_col),
            F.col("__w.para_pos").alias("para_pos"),
        )
    )
    # Losers = the non-exempt occurrences that did NOT win their hash
    # (plus every occurrence claimed by the stored `seen` index) — a
    # keys-only (id, pos) anti-join, rows proportional to the corpus dup
    # rate. Deliberately a SINGLE-branch plan, not a union(exempt,
    # semi-join) — Spark 4.1's partitioning-aware union returned
    # duplicate group keys on id-prepartitioned input (see tests/
    # test_union_partition_hazard.py); one anti-join keeps the
    # partitioning optimization legitimately applicable on any session,
    # any input partitioning.
    losers = all_keys.join(winners, [id_col, "para_pos"], "left_anti").select(
        id_col, "para_pos"
    )
    # One sorted drop-position list per AFFECTED doc (keys-only groupBy;
    # reuses the input's id partitioning when present), then a per-row
    # indexed filter over the doc's own paragraph array rebuilds the
    # text — document text never crosses an exchange, and there is no
    # collect_list reassembly of text-carrying unit rows.
    drops = losers.groupBy(id_col).agg(
        F.sort_array(F.collect_list("para_pos")).alias("__drop"),
        F.count(F.lit(1)).alias("__n_lost"),
    )
    # The rebuild splits the doc's own text inline per output expression
    # (2 regex splits/doc — still far cheaper than materializing the
    # paragraph array or shuffling text); n_kept derives arithmetically
    # so the kept-filter is not evaluated a third time for its size.
    # Column-lambda API, not F.expr — split_pattern must reach the regex
    # engine verbatim, not through SQL string-literal escape handling.
    paras = F.split(F.col(text_col), split_pattern)
    n_units = F.size(F.filter(paras, lambda x: F.length(F.trim(x)) > 0))
    kept_expr = F.filter(
        paras,
        lambda x, i: (F.length(F.trim(x)) > 0)
        & ~F.array_contains(F.col("__drop"), i),
    )
    return (
        df.select(id_col, text_col)
        .join(drops, id_col, "left")
        .withColumn("__drop", F.coalesce("__drop", F.expr("cast(array() as array<int>)")))
        .withColumn("__n_lost", F.coalesce("__n_lost", F.lit(0)))
        .select(
            id_col,
            F.concat_ws(joiner, kept_expr).alias("text_deduped"),
            n_units.cast("long").alias("n_paras"),
            (n_units - F.col("__n_lost")).cast("long").alias("n_kept"),
            F.col("__n_lost").cast("long").alias("n_dropped"),
        )
    )


def _substr_windows(toks: DataFrame, id_col: str, W: int) -> DataFrame:
    """(id, pos, h1, h2) for every W-token sliding window of the bound
    ``toks`` array — the hash projection runs in the SAME stage as the
    explode, so only 8-byte keys ever reach an exchange."""
    return (
        toks.select(
            id_col,
            F.explode(
                F.expr(
                    f"CASE WHEN size(toks) >= {W} THEN "
                    f"transform(sequence(0, size(toks) - {W}), "
                    f"i -> struct(i as pos, concat_ws(' ', slice(toks, i + 1, {W})) as w)) "
                    f"ELSE array() END"
                )
            ).alias("g"),
        )
        .select(
            id_col,
            F.col("g.pos").alias("pos"),
            F.xxhash64(F.lit(1), F.col("g.w")).alias("h1"),
            F.xxhash64(F.lit(2), F.col("g.w")).alias("h2"),
        )
    )


def substring_hash_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_tokens: int = 50,
) -> DataFrame:
    """Two-column (h1, h2) frame: the DISTINCT 128-bit window hashes of
    every ``min_tokens``-token sliding window in ``df`` — what an
    incremental curation state persists so later batches' windows dedup
    against the full history (substring_dedup's ``seen``). Parameters
    must match the substring_dedup call."""
    if min_tokens < 2:
        raise ValueError(f"min_tokens must be >= 2, got {min_tokens}")
    return (
        _substr_windows(_tokenized(df, id_col, text_col), id_col, int(min_tokens))
        .select("h1", "h2")
        .distinct()
    )


def substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_tokens: int = 50,
    joiner: str = " ",
    seen: DataFrame | None = None,
) -> DataFrame:
    """Corpus-wide EXACT SUBSTRING dedup (the ExactSubstr rule of Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): every duplicated run of >= ``min_tokens`` whitespace
    tokens is removed from all but its FIRST corpus occurrence (lowest
    (id, position)); the surviving tokens are stitched back together in
    document order. The strongest documented dedup mode — it catches
    duplicated spans EMBEDDED in otherwise-distinct documents, which
    doc-level (exact/MinHash) and paragraph-level dedup both miss.

    Output: one row per input document —
    (id, text_deduped, n_tokens, n_kept, n_dropped) — with documents
    never dropped (a fully-duplicated doc survives as '' for the
    caller's length gate). Reconstruction is whitespace-normalizing
    (tokens rejoined with ``joiner``), the same contract as operating
    on a token stream.

    Semantics via sliding windows (the distributed reformulation of the
    reference's suffix array — engine-original): a token is removed iff
    it lies inside at least one LOSER window — a ``min_tokens``-length
    window whose exact token sequence occurs at a smaller (id, pos).
    A duplicated span of length >= W turns all its interior windows
    into losers, so exactly the span is removed; windows straddling the
    span boundary carry unique context, stay winners, and protect the
    surrounding text. Degenerate self-overlapping periodic runs
    ("na na na ..." with period < W) collapse to their leading
    fragment — by-design over-removal on text that is junk under any
    quality gate, mirroring how C4's line rule treats repeated lines.

    Scale shape (built like paragraph_dedup — nothing corpus-sized is
    ever sorted in one task, text never crosses the wire):

    - window hashes are two independent xxhash64s (128 bits total:
      at 10^12 windows — the 100 TB regime — a single 64-bit key
      expects ~10^4 birthday collisions, 128 bits expects ~10^-15);
      the window STRINGS are hashed in the same stage they are built
      and never shuffle;
    - first-occurrence winners come from groupBy(hash).agg(min(struct
      (id, pos))): a million-copy boilerplate window partial-aggregates
      map-side before the exchange;
    - the loser join probes that same (h1, h2) exchange (1:1 per probe
      row — winners are unique per hash — so hot keys stream);
    - loser windows merge into maximal covered intervals per doc with
      one gaps-and-islands window over (id, pos) — loser rows only,
      proportional to the DUPLICATED portion of the corpus;
    - reconstruction is one per-row aggregate() over the merged
      interval list: O(tokens) slices per doc, no per-token join, no
      token-level shuffle.

    ``seen``: an optional (h1, h2) frame of window hashes already
    claimed by an EARLIER corpus (the incremental-curation state, built
    by ``substring_hash_keys``). Windows hashing into ``seen`` lose in
    EVERY occurrence here — their first occurrence lives in the stored
    corpus — and the remaining windows dedup among themselves
    first-occurrence-wins. Under append-only ids this reproduces the
    full-union run exactly (stored ids are smaller, so a stored
    occurrence always out-ranks any occurrence here). The probe never
    shuffles ``seen``: it is semi-joined down to this corpus's key set
    via a broadcast key list, then broadcast back — the stored-index
    probe shape of curation_incremental — and the loser derivation
    stays a SINGLE-branch plan (one left join + filter, no union; see
    tests/test_union_partition_hazard.py for why that matters).
    """
    if min_tokens < 2:
        raise ValueError(f"min_tokens must be >= 2, got {min_tokens}")
    W = int(min_tokens)
    toks = _tokenized(df, id_col, text_col)

    win = _substr_windows(toks, id_col, W)
    if seen is not None:
        stored_hits = seen.select("h1", "h2").join(
            F.broadcast(win.select("h1", "h2").distinct()), ["h1", "h2"], "left_semi"
        )
        marked = win.join(
            F.broadcast(stored_hits.withColumn("__stored", F.lit(True))),
            ["h1", "h2"],
            "left",
        )
        cand = marked.filter(F.col("__stored").isNull()).drop("__stored")
        winners = cand.groupBy("h1", "h2").agg(
            F.min(F.struct(id_col, "pos")).alias("__w"),
            F.count(F.lit(1)).alias("__n"),
        )
        # one left join against the DUP-GROUP winners only (small, like
        # the batch path); stored-hit windows pass on their flag — no
        # union of loser branches
        losers = (
            marked.join(winners.filter(F.col("__n") > 1), ["h1", "h2"], "left")
            .filter(
                F.col("__stored").isNotNull()
                | (
                    F.col("__w").isNotNull()
                    & ~(
                        (F.col(id_col) == F.col(f"__w.{id_col}"))
                        & (F.col("pos") == F.col("__w.pos"))
                    )
                )
            )
            .select(id_col, "pos", (F.col("pos") + W).alias("end"))
        )
    else:
        winners = win.groupBy("h1", "h2").agg(
            F.min(F.struct(id_col, "pos")).alias("__w"), F.count(F.lit(1)).alias("__n")
        )
        losers = (
            win.join(winners.filter(F.col("__n") > 1), ["h1", "h2"])
            .filter(
                ~(
                    (F.col(id_col) == F.col(f"__w.{id_col}"))
                    & (F.col("pos") == F.col("__w.pos"))
                )
            )
            .select(id_col, "pos", (F.col("pos") + W).alias("end"))
        )

    # gaps-and-islands merge: loser intervals all have length W, so the
    # running max end over pos order marks island breaks exactly
    from pyspark.sql import Window

    by_doc = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max("end").over(by_doc.rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        losers.withColumn(
            "__new", (F.col("pos") > F.coalesce(prev_end, F.lit(-1))).cast("int")
        )
        .withColumn(
            "__isl",
            F.sum("__new").over(by_doc.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(id_col, "__isl")
        .agg(F.min("pos").alias("s"), F.max("end").alias("e"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("ivs"))
    )

    kept_expr = F.expr(
        "aggregate("
        "  ivs,"
        "  struct(0 as p, cast(array() as array<string>) as acc),"
        "  (st, v) -> struct(v.e as p, concat(st.acc, slice(toks, st.p + 1, v.s - st.p)) as acc),"
        "  st -> concat(st.acc, slice(toks, st.p + 1, size(toks) - st.p))"
        ")"
    )
    return (
        toks.join(islands, id_col, "left")
        .withColumn(
            "ivs",
            F.coalesce("ivs", F.expr("cast(array() as array<struct<s:int,e:int>>)")),
        )
        .withColumn("__kept", kept_expr)
        .select(
            id_col,
            F.concat_ws(joiner, "__kept").alias("text_deduped"),
            F.size("toks").cast("long").alias("n_tokens"),
            F.size("__kept").cast("long").alias("n_kept"),
            (F.size("toks") - F.size("__kept")).cast("long").alias("n_dropped"),
        )
    )
