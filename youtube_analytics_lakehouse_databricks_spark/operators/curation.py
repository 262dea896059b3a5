"""End-to-end corpus curation: the composition a training-data pipeline
actually runs, as ONE operator over any (id, text) DataFrame.

Stage order is the production order, cheapest-first so each stage shrinks
the corpus the next (more expensive) stage sees:

1. quality gate      — per-row array math, no shuffle; drops junk before
                       any hashing happens. Optionally extended with the
                       Gopher/C4 repetition rules (``repetition_rules=
                       True``), a PII scrub (``redact=True``) that runs
                       BEFORE hashing so dedup sees scrubbed text,
                       corpus-wide paragraph dedup (``paragraph_dedup=
                       True`` — the C4/RefinedWeb first-occurrence rule
                       rewrites each doc's text before the gate, so
                       boilerplate-only docs drain and drop low_quality
                       and doc-level dedup compares boilerplate-free
                       text), a learned quality classifier
                       (``quality_model=`` — JVM-only hashed-feature
                       scoring, drop_reason ``classifier``), an n-gram-LM
                       perplexity gate (``perplexity_model=`` +
                       ``max_perplexity=`` — CCNet-style reference-corpus
                       perplexity, drop_reason ``perplexity``), and
                       benchmark decontamination (``eval_df=...``) that
                       drops eval-overlapping docs (drop_reason
                       ``contaminated``) before any dedup — a leaked doc
                       must not survive as a cluster's keeper — and its
                       embedding-space companion (``semantic_eval_df=``,
                       r11): docs cosine-similar to any eval embedding
                       drop as ``semantic_contaminated``, catching the
                       paraphrase/translation leakage no k-gram rule
                       sees;
2. exact dedup       — canonical-text hash groupBy (cosmetic variants
                       collide via text.norm_expr); one narrow shuffle;
3. near-dup dedup    — MinHash signatures -> LSH band candidates (hot
                       buckets capped) -> candidate-restricted Jaccard
                       verify -> connected components -> min-id keeper
                       per cluster; runs on exact-dedup SURVIVORS only,
                       which also removes the identical-doc hot keys LSH
                       would otherwise bucket together. Shingling runs
                       over the SAME canonical text as stage 2
                       (``canonical_near_dup``), so a doc differing by
                       one word plus case/punctuation still lands next
                       to its near-twin.

Output: one row per INPUT doc — (id, keep, drop_reason, duplicate_of,
near_dup_audit_incomplete, matched_eval_id, contamination_frac,
substring_tokens_dropped, semantic_centroid_sim,
semantic_audit_incomplete, max_eval_cosine, semantic_matched_eval_id —
the last two carry the semantic-decontamination audit, typed NULL when
``semantic_eval_df`` is off). ``semantic_vec_col=`` adds a fourth dedup
stage over the near-dup survivors (SemDeDup — see the curate()
docstring). ``substring_dedup=True`` adds the ExactSubstr
rewrite (Lee et al. 2021) between paragraph dedup and the quality gate:
duplicated >= ``substring_min_tokens``-token runs are removed from all
but their first corpus occurrence, and each doc's removed-token count
lands in ``substring_tokens_dropped`` (NULL when the stage is off).
drop_reason ∈ {low_quality, repetition, classifier, perplexity,
contaminated, semantic_contaminated, exact_duplicate, near_duplicate,
semantic_duplicate};
duplicate_of names the canonical doc a
duplicate folded into (NULL for kept docs and quality drops);
near_dup_audit_incomplete flags every doc that sat in at least one
over-cap LSH bucket the hot-bucket guard dropped — those docs are kept,
but their near-dup comparison was curtailed, and a production run should
route them to a second pass or a tighter band scheme. matched_eval_id /
contamination_frac carry the decontamination audit (NULL unless eval_df
was given and the doc shared at least one eval k-gram): with
``decontam_max_frac`` set, only docs ABOVE the cap drop as contaminated
and lighter-overlap docs stay kept-but-flagged — the graded policy real
pipelines run (drop > x%, review the rest). Nothing is silently
discarded OR silently under-compared: the frame IS the audit trail, and
`df.filter("keep")` is the curated corpus.

Each stage is the already-tested building block from operators.text /
operators.dedup / operators.graph — this module only owns the
composition and the keep/drop bookkeeping.

Perf note (measured, round 5, sf0.1 local[32]): signatures INTENTIONALLY
come from the codegen'd explode+min-agg path (dedup.minhash_signatures
over dedup.shingles) and the Jaccard sets from the independent per-row
array build (dedup.shingle_sets), even though that tokenizes+shingles the
survivors twice. The single-pass alternative — a per-row array_min over
seeded sha2 digests of the already-built sets — removes one aggregation
but pays interpreted higher-order-function evaluation for every sha2 (HOF
lambdas don't enter whole-stage codegen): 5.5 s vs 1.4 s for the full
candidate chain at sf0.1. The duplicate shingling is narrow per-row JVM work that
parallelizes perfectly; the interpreted crypto does not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark.operators import dedup as dedup_ops
from youtube_analytics_lakehouse_databricks_spark.operators import text as text_ops
from youtube_analytics_lakehouse_databricks_spark.operators.graph import connected_components
from youtube_analytics_lakehouse_databricks_spark.operators.lineage import cut


def curate(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_tokens: int = 5,
    max_stopword_ratio: float = 0.9,
    min_distinct_ratio: float = 0.1,
    repetition_rules: bool = False,
    redact: bool = False,
    paragraph_dedup: bool = False,
    paragraph_split: str = r"\n{2,}",
    paragraph_min_chars: int = 30,
    substring_dedup: bool = False,
    substring_min_tokens: int = 50,
    quality_model=None,
    quality_min_prob: float = 0.5,
    perplexity_model=None,
    max_perplexity: float | None = None,
    eval_df: DataFrame | None = None,
    eval_id_col: str | None = None,
    eval_text_col: str | None = None,
    decontam_k: int = 13,
    decontam_min_hits: int = 1,
    decontam_max_frac: float | None = None,
    shingle_k: int = 3,
    n_hashes: int = 8,
    rows_per_band: int = 2,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = dedup_ops.DEFAULT_MAX_BUCKET_SIZE,
    canonical_near_dup: bool = True,
    semantic_vec_col: str | None = None,
    semantic_threshold: float = 0.95,
    semantic_n_cells: int | None = None,
    semantic_max_cluster_size: int = 8192,
    semantic_centroids=None,
    semantic_refine_scale: int | None = None,
    semantic_eval_df: DataFrame | None = None,
    semantic_eval_id_col: str | None = None,
    semantic_eval_vec_col: str | None = None,
    semantic_decontam_threshold: float = 0.9,
    semantic_decontam_vec_col: str | None = None,
    durable: bool = False,
) -> DataFrame:
    """(id, keep, drop_reason, duplicate_of, near_dup_audit_incomplete)
    for every input doc.

    ``semantic_vec_col`` switches on a FOURTH dedup stage (SemDeDup,
    Abbas et al. 2023 — operators.similarity.semantic_dedup) over the
    near-dup SURVIVORS: meaning-level duplicates (paraphrases,
    translations, templated rewrites) that every lexical stage above
    misses are folded under drop_reason ``semantic_duplicate``, with the
    keeper in ``duplicate_of`` and two audit columns —
    ``semantic_centroid_sim`` (each examined doc's similarity to its
    cluster centroid) and ``semantic_audit_incomplete`` (the over-cap
    cluster flag, the LSH hot-bucket contract; flagged docs are kept but
    under-compared — route them to similarity.semantic_dedup_refine, or
    set ``semantic_refine_scale=`` to run that second pass INSIDE the
    chain: flagged clusters re-quantize with scale-x more cells and
    actually dedup, still-over-cap clusters stay flagged; batch-only,
    the incremental path's frozen-quantizer state cannot absorb a
    per-run second quantizer).
    The column named must hold the doc's embedding (array<float>) on the
    INPUT frame; it is re-joined from the input by id, so the text
    rewrites above don't need to carry it. The keeper rule here is
    ``min_id`` — NOT the paper's diversity keeper — because the chain's
    incremental contract (curate_incremental) rests on "min id per
    cluster" being stable under append-only ids; the standalone operator
    keeps the diversity default. Both audit columns are typed NULLs when
    the stage is off (the decontam/substring schema contract).

    ``durable=True`` swaps every lineage cut (here and in the
    connected-components rounds) from ``localCheckpoint`` to reliable
    ``checkpoint`` so a multi-hour cluster run survives executor loss —
    identical output, see operators.lineage for the failure-domain
    tradeoff. Requires ``setCheckpointDir``."""
    id_type = dict(docs.dtypes)[id_col]
    if (
        semantic_vec_col is not None or semantic_eval_df is not None
    ) and id_type not in ("bigint", "int", "smallint"):
        # the per-cluster Arrow kernel sorts int64 member ids (and the
        # incremental contract compares them to a watermark) — a string
        # id would silently mis-sort, so fail loudly (the lehmer guard)
        raise ValueError(
            f"semantic dedup requires an integral id column, got {id_col}: {id_type}"
        )
    docs_in = docs  # pre-rewrite frame: the semantic stage re-joins the
    # embedding column from here by id (text rewrites below drop it)

    # 0. optional PII scrub BEFORE any hashing: dedup then compares
    # scrubbed text, so two docs differing only in (redacted) PII collide
    if redact:
        docs = (
            text_ops.redact_pii(docs, id_col, text_col)
            .select(id_col, F.col("redacted_text").alias(text_col))
            # lineage cut, not an optimization nicety: downstream gates
            # reference the text column from INSIDE higher-order-function
            # lambdas (token arrays), where projection collapse inlines
            # the 5-regex redaction chain into every lambda reference and
            # subexpression elimination cannot reach (see dedup._tokenized)
            # — measured 107 s for repetition_rules+redact at the 1x
            # scaling corpus without this cut, 10 s with it. Cost: the
            # redaction chain runs exactly once, materializing the
            # scrubbed corpus.
        )
        docs = cut(docs, durable=durable)

    # 0b. optional corpus-wide paragraph dedup (the C4/RefinedWeb order:
    # boilerplate removal BEFORE document-level dedup). Rewrites each doc
    # to its first-occurrence paragraphs, so (a) boilerplate-only docs
    # drain to '' and drop as low_quality at the very next gate, and
    # (b) the exact/near-dup hashes downstream compare boilerplate-free
    # text — two docs sharing a body but differing in nav chrome now
    # collide. Mirrors the redact stage's contract: a text REWRITE with
    # no extra audit columns (run operators.dedup.paragraph_dedup
    # standalone for per-doc paragraph stats). Runs after redaction so
    # paragraph hashes compare scrubbed text; cut for the same reason as
    # redaction — every downstream gate references the text column from
    # inside HOF lambdas, which would otherwise inline the reassembly.
    if paragraph_dedup:
        docs = dedup_ops.paragraph_dedup(
            docs,
            id_col,
            text_col,
            split_pattern=paragraph_split,
            min_chars=paragraph_min_chars,
        ).select(id_col, F.col("text_deduped").alias(text_col))
        docs = cut(docs, durable=durable)

    # 0c. optional corpus-wide EXACT SUBSTRING dedup (ExactSubstr, Lee
    # et al. 2021 — the strongest documented dedup mode: catches
    # duplicated spans EMBEDDED in otherwise-distinct documents, which
    # paragraph- and doc-level dedup both miss). Like the paragraph
    # stage it is a text REWRITE — documents are never dropped here; a
    # fully-duplicated doc drains to '' and drops as low_quality at the
    # very next gate — but unlike it the per-doc token toll is carried
    # into the audit frame (``substring_tokens_dropped``): span removal
    # CHANGES kept documents' text, so the export needs the provenance.
    # Runs after paragraph dedup (boilerplate first, then embedded
    # spans) and after redaction (windows compare scrubbed text); the
    # cut materializes one rewrite that both the text chain and the
    # audit column read.
    if substring_dedup:
        sub = cut(
            dedup_ops.substring_dedup(
                docs, id_col, text_col, min_tokens=substring_min_tokens
            ),
            durable=durable,
        )
        docs = sub.select(id_col, F.col("text_deduped").alias(text_col))
        sub_audit = sub.select(
            id_col, F.col("n_dropped").alias("substring_tokens_dropped")
        )
    else:
        sub_audit = None

    # 1. quality gate (cheap, per-row, runs on everything). Each gate's
    # audit frame is an id-only droplist consumed TWICE (the left_anti
    # that advances the chain + the drop_reason assembly at the end);
    # a lazy localCheckpoint makes the second consumer read ids instead
    # of re-running the gate's scoring pass.
    q = text_ops.quality_scores(docs, id_col, text_col)
    low_quality = (
        q.filter(
            (F.col("n_tokens") < min_tokens)
            | (F.col("stopword_ratio") > max_stopword_ratio)
            | (F.col("distinct_ratio") < min_distinct_ratio)
        )
        .select(id_col)
    )
    low_quality = cut(low_quality, durable=durable)
    good = docs.join(low_quality, id_col, "left_anti")

    # 1b. optional repetition/shape gate (Gopher/C4 rules), also per-row;
    # runs after the base gate so a doc failing both reports low_quality
    if repetition_rules:
        rep_failed = (
            text_ops.repetition_flags(good, id_col, text_col)
            .filter(~F.col("passes_repetition_rules"))
            .select(id_col)
        )
        rep_failed = cut(rep_failed, durable=durable)
        good = good.join(rep_failed, id_col, "left_anti")
    else:
        rep_failed = None

    # 1b2. optional learned quality gate (quality_model given): the
    # CCNet/GPT-3-style linear classifier — hashed-feature scoring stays
    # entirely in the JVM (see operators.classifier), the model joins in
    # broadcast, and the droplist is docs below quality_min_prob with
    # their own drop_reason so a curated corpus can distinguish "failed
    # the heuristics" from "the classifier scored it crawl-like".
    if quality_model is not None:
        from youtube_analytics_lakehouse_databricks_spark.operators.classifier import score_quality

        clf_failed = cut(
            score_quality(good, id_col, text_col, quality_model)
            .filter(F.col("quality_prob") < quality_min_prob)
            .select(id_col),
            durable=durable,
        )
        good = good.join(clf_failed, id_col, "left_anti")
    else:
        clf_failed = None

    # 1b3. optional perplexity gate (perplexity_model given): the CCNet
    # n-gram-LM filter — docs scoring ABOVE max_perplexity against the
    # reference-corpus LM drop with their own reason (drop_reason
    # ``perplexity``, distinct from the heuristics and the classifier so
    # a curated corpus can tell the three quality signals apart). Docs
    # too short to score a full-order gram report scored=false and PASS
    # — the length gate owns short docs. Scoring is codegen-only (see
    # operators.lm_quality); the droplist cut mirrors the other gates.
    if perplexity_model is not None:
        if max_perplexity is None:
            raise ValueError("perplexity_model given without max_perplexity")
        from youtube_analytics_lakehouse_databricks_spark.operators.lm_quality import score_perplexity

        ppl_failed = cut(
            score_perplexity(good, id_col, text_col, perplexity_model)
            .filter(
                F.col("scored")
                & (F.col("perplexity") > F.lit(float(max_perplexity)))
            )
            .select(id_col),
            durable=durable,
        )
        good = good.join(ppl_failed, id_col, "left_anti")
    else:
        ppl_failed = None

    # 1c. optional benchmark decontamination (eval_df given): drop docs
    # overlapping the eval set BEFORE any dedup — a contaminated doc must
    # not survive as a cluster's keeper. Binary mode (default) drops at
    # >= decontam_min_hits shared k-grams; graded mode (decontam_max_frac
    # set) drops only docs whose contamination_frac EXCEEDS the cap and
    # keeps lighter-overlap docs FLAGGED — their matched_eval_id /
    # contamination_frac land in the audit frame so a tiered policy
    # (drop > x%, review > 0%) is one downstream filter, not a re-scan.
    # The eval side is broadcast inside decontaminate, so this stage adds
    # no training-side shuffle beyond its per-doc aggregation.
    if eval_df is not None:
        from youtube_analytics_lakehouse_databricks_spark.operators.decontam import decontaminate

        # one cut materializes the scoring pass; the droplist AND the
        # audit columns below are cheap filters over the same blocks
        dec = cut(
            decontaminate(
                good,
                eval_df,
                id_col,
                text_col,
                eval_id_col=eval_id_col,
                eval_text_col=eval_text_col,
                k=decontam_k,
                min_hits=decontam_min_hits,
            ).select(
                id_col, "contamination_frac", "matched_eval_id", "is_contaminated"
            ),
            durable=durable,
        )
        drop_pred = (
            F.col("contamination_frac") > decontam_max_frac
            if decontam_max_frac is not None
            else F.col("is_contaminated")
        )
        contaminated = dec.filter(drop_pred).select(id_col)
        eval_overlap = dec.filter(F.col("matched_eval_id").isNotNull()).select(
            id_col, "matched_eval_id", "contamination_frac"
        )
        good = good.join(contaminated, id_col, "left_anti")
    else:
        contaminated = None
        eval_overlap = None

    # 1c2. optional SEMANTIC decontamination (semantic_eval_df given):
    # the embedding-space companion of the k-gram gate above — drops docs
    # whose embedding is cosine-similar to ANY eval doc's (the leakage
    # paraphrased/translated benchmark items cause, which no 13-gram rule
    # sees), with its own drop_reason so a curated corpus can tell the
    # two contamination signals apart. Same placement rationale: BEFORE
    # any dedup, so a leaked doc never survives as a cluster's keeper.
    # The doc-side vector column defaults to the SemDeDup one
    # (``semantic_vec_col``) and is read from the INPUT frame (text
    # rewrites above drop it); ``semantic_decontam_vec_col`` overrides
    # it so a decontam-only pipeline need not switch SemDeDup on.
    # Shuffle shape: the scorer runs over EVERY input row (the eval
    # matrix is broadcast inside semantic_decontaminate — one Arrow
    # pass, zero exchange), and the gate population is selected by
    # semi-joining the (id, score) VERDICTS — ~tens of bytes/row —
    # never the vector column: restricting the input frame first would
    # semi-join dim*4 bytes/row of vectors against a corpus-sized key
    # set, a full vector shuffle at 100 TB, where the extra matmuls for
    # already-dropped docs are bounded (<2x) and exchange-free.
    # MEASURED (r11; COVERAGE.md, "Decontamination" row): ~13x less gate
    # exchange at both probe decades AND lower CPU/wall — the extra
    # matmuls cost less than shuffling vectors. (The SemDeDup stage
    # below rightly does restrict its vector frame — ITS downstream
    # cluster exchange needs the vectors shuffled anyway.)
    if semantic_eval_df is not None:
        from youtube_analytics_lakehouse_databricks_spark.operators.decontam import semantic_decontaminate

        sdec_vec = semantic_decontam_vec_col or semantic_vec_col
        if sdec_vec is None:
            raise ValueError(
                "semantic_eval_df given without a doc-side vector column — "
                "set semantic_decontam_vec_col= (or semantic_vec_col=)"
            )
        # one cut materializes the scoring pass; the droplist AND the
        # audit columns are cheap id-score joins over the same blocks
        sdec_all = cut(
            semantic_decontaminate(
                docs_in.select(id_col, sdec_vec),
                semantic_eval_df,
                id_col,
                sdec_vec,
                eval_id_col=semantic_eval_id_col,
                eval_vec_col=semantic_eval_vec_col,
                threshold=semantic_decontam_threshold,
            ),
            durable=durable,
        )
        sdec = sdec_all.join(good.select(id_col), id_col, "left_semi")
        sem_contaminated = sdec.filter(
            F.col("is_semantically_contaminated")
        ).select(id_col)
        sdec_audit = sdec.select(
            id_col,
            "max_eval_cosine",
            F.col("matched_eval_id").alias("semantic_matched_eval_id"),
        )
        good = good.join(sem_contaminated, id_col, "left_anti")
    else:
        sem_contaminated = None
        sdec_audit = None

    # Lineage cut after the LAST gate: ``good`` feeds the exact-dedup
    # hash, the representatives join, and (transitively) every assembly
    # branch. The stacked gate subtrees are all broadcast anti-joins —
    # no exchange, so NO exchange reuse — and without this cut each
    # downstream consumer re-executes every enabled gate's scoring pass
    # over the whole corpus. With all three optional gates on, the
    # uncut chain measured 232 s at the 1x scaling corpus; this cut plus
    # the redaction cut above bring it to 6.8 s (32 s at 10x — linear),
    # with the default chain unchanged within noise.
    good = cut(good, durable=durable)

    # 2. exact dedup on canonical text (min id per hash is the keeper)
    hashed = good.select(
        id_col, F.sha2(text_ops.norm_expr(text_col), 256).alias("__h")
    )
    keepers = hashed.groupBy("__h").agg(F.min(id_col).alias("__keeper"))
    exact_map = hashed.join(keepers, "__h").select(id_col, "__keeper")
    exact_dropped = exact_map.filter(F.col(id_col) != F.col("__keeper"))
    reps = good.join(
        exact_map.filter(F.col(id_col) == F.col("__keeper")).select(id_col),
        id_col,
    )

    # 3. near-dup dedup on the exact representatives. Shingles see the
    # SAME canonicalization as stage 2's hash (unless disabled), so
    # near-dup detection inherits case/punctuation insensitivity.
    if canonical_near_dup:
        reps = reps.select(id_col, text_ops.norm_expr(text_col).alias(text_col))
    # reps is consumed by THREE full-corpus subtrees (shingle sets for
    # each verify leg + the signature chain) and sets by two; without a
    # lineage cut each consumer re-executes the gate + exact-dedup joins
    # from the scan up (narrow chains get no exchange reuse). A LAZY
    # localCheckpoint materializes each once at first action — measured
    # ~2.8x on the full curate() wall (13.2 -> 4.6 s at 1x, 64.2 -> 22.9 s
    # at 10x, together with the graph.py node-derivation fix; see
    # COVERAGE.md scaling table), and at 100 TB it is the difference
    # between 3 corpus passes and 1.
    reps = cut(reps, durable=durable)
    sets = cut(
        dedup_ops.shingle_sets(reps, id_col, text_col, k=shingle_k), durable=durable
    )
    sig = dedup_ops.minhash_signatures(
        dedup_ops.shingles(reps, id_col, text_col, k=shingle_k), id_col, n_hashes
    )
    bands = n_hashes // rows_per_band
    banded = sig.select(
        id_col,
        *[
            F.sha2(
                F.concat_ws(
                    "|", *[f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
                ),
                256,
            ).alias(f"band{b}")
            for b in range(bands)
        ],
    )
    buckets = dedup_ops.band_buckets(banded, id_col, [f"band{b}" for b in range(bands)])
    cand = dedup_ops.candidates_from_buckets(buckets, max_bucket_size=max_bucket_size)
    pairs = dedup_ops.jaccard_verify_sets(
        sets, id_col, cand, jaccard_threshold, durable=durable
    )
    comp = connected_components(pairs, "doc_a", "doc_b", durable=durable)
    near_dropped = comp.filter(F.col("node") != F.col("component"))

    # 3b. hot-bucket audit: docs whose candidate generation was curtailed
    # by the guard. Derives from the SAME band_buckets aggregation as the
    # candidates (exchange-reused), so the audit costs no extra signature
    # pass — honoring the "nothing silently discarded" contract above.
    if max_bucket_size is not None:
        curtailed = dedup_ops.dropped_bucket_members(
            buckets, id_col, max_bucket_size=max_bucket_size
        ).withColumn("__curtailed", F.lit(True))
    else:
        curtailed = None

    # 4. optional SEMANTIC dedup (SemDeDup) over the near-dup SURVIVORS:
    # the embedding column is re-joined from the input frame by id (one
    # broadcast-free semi-join shape: survivors ARE the smaller side
    # after three dedup stages, and at 100 TB the join shuffles ids +
    # vectors once — the stage's own cluster exchange subsumes it).
    # min_id keeper: see the docstring's incremental-stability note.
    if semantic_vec_col is not None:
        from youtube_analytics_lakehouse_databricks_spark.operators.similarity import semantic_dedup

        survivor_ids = reps.select(id_col).join(
            near_dropped.select(F.col("node").alias(id_col)), id_col, "left_anti"
        )
        # docs WITHOUT an embedding (NULL after the caller's vector join)
        # cannot be semantically compared: they skip the stage and stay
        # kept with NULL semantic audit columns — same contract as every
        # other gate's "not examined" rows, and it keeps the NULL out of
        # the Arrow kernels (which loudly reject it)
        sem_input = (
            docs_in.select(id_col, semantic_vec_col)
            .filter(F.col(semantic_vec_col).isNotNull())
            .join(survivor_ids, id_col, "left_semi")
        )
        # consumed three times (droplist, audit columns, pointer repoint
        # map) — one cut materializes the cluster pass
        sem = cut(
            semantic_dedup(
                sem_input,
                id_col,
                semantic_vec_col,
                threshold=semantic_threshold,
                n_cells=semantic_n_cells,
                max_cluster_size=semantic_max_cluster_size,
                keeper="min_id",
                centroids=semantic_centroids,
            ),
            durable=durable,
        )
        # 4b. optional refine escalation (``semantic_refine_scale``):
        # over-cap clusters — kept-but-flagged above, the hot-bucket
        # contract — are re-quantized with ``cell_scale`` x more cells
        # and actually deduped, ONE extra bounded pass over the flagged
        # population (similarity.semantic_dedup_refine; parameters are
        # metadata-asserted against the first pass). A cluster still
        # over the cap after re-quantization stays flagged. Batch-only:
        # curate_incremental's frozen-quantizer state contract cannot
        # absorb a second per-run quantizer.
        if semantic_refine_scale is not None:
            from youtube_analytics_lakehouse_databricks_spark.operators.similarity import (
                semantic_dedup_refine,
            )

            sem = cut(
                semantic_dedup_refine(
                    sem_input,
                    sem,
                    id_col,
                    semantic_vec_col,
                    threshold=semantic_threshold,
                    cell_scale=int(semantic_refine_scale),
                    max_cluster_size=semantic_max_cluster_size,
                    keeper="min_id",
                ),
                durable=durable,
            )
        sem_dropped = sem.filter(~F.col("keep")).select(id_col, "duplicate_of")
    else:
        sem = None
        sem_dropped = None

    # assemble the audit frame; stage precedence is the run order
    null_dup = F.lit(None).cast(id_type)
    dropped = low_quality.select(
        id_col,
        F.lit("low_quality").alias("drop_reason"),
        null_dup.alias("duplicate_of"),
    )
    if rep_failed is not None:
        dropped = dropped.unionByName(
            rep_failed.select(
                id_col,
                F.lit("repetition").alias("drop_reason"),
                null_dup.alias("duplicate_of"),
            )
        )
    if clf_failed is not None:
        dropped = dropped.unionByName(
            clf_failed.select(
                id_col,
                F.lit("classifier").alias("drop_reason"),
                null_dup.alias("duplicate_of"),
            )
        )
    if ppl_failed is not None:
        dropped = dropped.unionByName(
            ppl_failed.select(
                id_col,
                F.lit("perplexity").alias("drop_reason"),
                null_dup.alias("duplicate_of"),
            )
        )
    if contaminated is not None:
        dropped = dropped.unionByName(
            contaminated.select(
                id_col,
                F.lit("contaminated").alias("drop_reason"),
                null_dup.alias("duplicate_of"),
            )
        )
    if sem_contaminated is not None:
        dropped = dropped.unionByName(
            sem_contaminated.select(
                id_col,
                F.lit("semantic_contaminated").alias("drop_reason"),
                null_dup.alias("duplicate_of"),
            )
        )
    # exact duplicates point at their exact keeper — but when that keeper
    # was ITSELF near-folded into a component, the final cluster root is
    # the keeper's component, one hop further. Resolve it here so
    # `duplicate_of` is ALWAYS the final (kept) cluster root: components
    # run over exact representatives only and their roots are kept docs,
    # so exactly one extra hop closes every chain. Without this, an
    # exact dup of a near-folded keeper gets a mid-chain pointer and
    # leakage_safe_split(include_dropped=True) can put members of one
    # duplicate cluster on opposite split sides (round-6 VERDICT #1).
    fold_map = near_dropped.select(
        F.col("node").alias("__keeper"), F.col("component").alias("__root")
    )
    dropped = dropped.unionByName(
        exact_dropped.join(fold_map, "__keeper", "left").select(
            id_col,
            F.lit("exact_duplicate").alias("drop_reason"),
            F.coalesce("__root", "__keeper").alias("duplicate_of"),
        )
    ).unionByName(
        near_dropped.select(
            F.col("node").alias(id_col),
            F.lit("near_duplicate").alias("drop_reason"),
            F.col("component").alias("duplicate_of"),
        )
    )
    if sem_dropped is not None:
        dropped = dropped.unionByName(
            sem_dropped.select(
                id_col,
                F.lit("semantic_duplicate").alias("drop_reason"),
                F.col("duplicate_of"),
            )
        )
        # final-root hop, semantic edition: semantic runs on near-dup
        # survivors — the docs every exact/near pointer ends at — so a
        # pointer at a semantically-folded doc resolves ONE hop further
        # to its semantic keeper (itself semantically kept, so every
        # chain closes). Mirrors the exact->near fold_map hop above.
        sem_map = sem_dropped.select(
            F.col(id_col).alias("__sem_folded"),
            F.col("duplicate_of").alias("__sem_root"),
        )
        dropped = dropped.join(
            sem_map, dropped["duplicate_of"] == sem_map["__sem_folded"], "left"
        ).select(
            id_col,
            "drop_reason",
            F.coalesce("__sem_root", "duplicate_of").alias("duplicate_of"),
        )
    out = (
        docs.select(id_col)
        .join(dropped, id_col, "left")
        .select(
            id_col,
            F.col("drop_reason").isNull().alias("keep"),
            "drop_reason",
            "duplicate_of",
        )
    )
    if curtailed is not None:
        out = out.join(curtailed, id_col, "left").select(
            id_col,
            "keep",
            "drop_reason",
            "duplicate_of",
            F.coalesce("__curtailed", F.lit(False)).alias("near_dup_audit_incomplete"),
        )
    else:
        out = out.withColumn("near_dup_audit_incomplete", F.lit(False))
    # decontamination audit columns: every doc that shared ANY eval gram
    # carries the pointer (matched_eval_id) and severity (frac), whether
    # it was dropped or kept — the "review" tier of a graded policy is
    # `keep AND matched_eval_id IS NOT NULL`. NULL-typed when no eval set
    # was given so the output schema does not depend on the option.
    if eval_overlap is not None:
        out = out.join(eval_overlap, id_col, "left")
    else:
        out = out.withColumn("matched_eval_id", F.lit(None).cast("string")).withColumn(
            "contamination_frac", F.lit(None).cast("double")
        )
    # substring-dedup provenance: tokens the ExactSubstr rewrite removed
    # from each doc (0 for untouched docs when the stage ran). NULL-typed
    # when the stage is off so the output schema does not depend on the
    # option — the same contract as the decontamination columns.
    if sub_audit is not None:
        out = out.join(sub_audit, id_col, "left")
    else:
        out = out.withColumn("substring_tokens_dropped", F.lit(None).cast("long"))
    # semantic audit columns: every doc the stage EXAMINED carries its
    # centroid similarity; the incomplete flag mirrors the near-dup
    # contract (false also covers docs dropped before the stage — their
    # comparison wasn't curtailed, it never started, and drop_reason
    # already records why). Typed NULLs when the stage is off.
    if sem is not None:
        out = out.join(
            sem.select(
                id_col,
                F.col("centroid_sim").alias("semantic_centroid_sim"),
                F.col("semdedup_audit_incomplete").alias("semantic_audit_incomplete"),
            ),
            id_col,
            "left",
        ).withColumn(
            "semantic_audit_incomplete",
            F.coalesce("semantic_audit_incomplete", F.lit(False)),
        )
    else:
        out = out.withColumn(
            "semantic_centroid_sim", F.lit(None).cast("double")
        ).withColumn("semantic_audit_incomplete", F.lit(None).cast("boolean"))
    # semantic-decontamination audit columns: every doc the gate EXAMINED
    # carries its max eval cosine and best-match pointer, dropped or kept
    # — the review tier of an embedding-space graded policy is
    # `keep AND max_eval_cosine >= <review threshold>`. Typed NULLs when
    # the gate is off (the decontamination/substring schema contract).
    if sdec_audit is not None:
        out = out.join(sdec_audit, id_col, "left")
    else:
        out = out.withColumn(
            "max_eval_cosine", F.lit(None).cast("double")
        ).withColumn("semantic_matched_eval_id", F.lit(None).cast("long"))
    return out
