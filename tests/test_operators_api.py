"""Reusable operator API over hand-built frames (not the bench tables)."""

from __future__ import annotations

from youtube_analytics_lakehouse_databricks_spark.operators import dedup, similarity, text


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")
    far = "completely different words in this one nothing shared at all here now"
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "id long, text string")
    sh = dedup.shingles(df, "id", "text", k=3)
    sig = dedup.minhash_signatures(sh, "id", n_hashes=8)
    cand = dedup.lsh_candidates(sig, "id", n_hashes=8)
    pairs = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs and (2, 3) not in pairs
    verified = dedup.jaccard_verify(sh, "id", threshold=0.5, candidates=cand).collect()
    assert len(verified) == 1 and verified[0]["doc_a"] == 1 and verified[0]["jaccard"] > 0.7


def test_shingle_sets_and_array_minhash_match_exploded(spark):
    """The zero-shuffle shingle-set arrays agree exactly with the
    exploded shingle rows; docs shorter than k shingles get an empty
    set."""
    df = spark.createDataFrame(
        [(1, "a b c d c b a b c"), (2, "x y"), (3, "p q r")], "id long, text string"
    )
    sh = dedup.shingles(df, "id", "text", k=3)
    sets = {r["id"]: r for r in dedup.shingle_sets(df, "id", "text", k=3).collect()}
    exploded = {}
    for r in sh.collect():
        exploded.setdefault(r["id"], set()).add(r["shingle"])
    assert set(sets[2]["shset"]) == set() and sets[2]["n_shingles"] == 0
    for i in (1, 3):
        assert set(sets[i]["shset"]) == exploded[i]
        assert sets[i]["n_shingles"] == len(exploded[i])


def test_jaccard_verify_sets_matches_exploded_verify(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")
    far = "completely different words in this one nothing shared at all here now"
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "id long, text string")
    cand = spark.createDataFrame([(1, 2), (1, 3)], "doc_a long, doc_b long")
    sh = dedup.shingles(df, "id", "text", k=3)
    # positive threshold: a zero-overlap candidate pair is (correctly)
    # absent from both formulations (the exploded inner join drops it;
    # the set form computes 0.0 and the filter drops it)
    via_rows = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_verify(sh, "id", threshold=0.1, candidates=cand).collect()
    }
    via_sets = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_verify_sets(
            dedup.shingle_sets(df, "id", "text", k=3), "id", cand, threshold=0.1
        ).collect()
    }
    assert via_rows == via_sets and via_rows[(1, 2)] > 0.7
    assert (1, 3) not in via_sets


def test_shingle_k_parameter(spark):
    df = spark.createDataFrame([(1, "a b c d")], "id long, text string")
    assert {r["shingle"] for r in dedup.shingles(df, "id", "text", k=2).collect()} == {
        "a b", "b c", "c d",
    }
    assert {r["shingle"] for r in dedup.shingles(df, "id", "text", k=4).collect()} == {"a b c d"}


def test_cosine_topk_identity_neighbors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.001, 0.0, 0.0]),  # nearly identical to 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in similarity.cosine_topk(df, "vec_id", "embedding", k=1).collect()
    }
    assert top1[1] == 2 and top1[2] == 1


def test_bucket_topk_pairs_same_direction_vectors(spark):
    rows = [(i, [1.0 + 0.001 * i, 0.5, -0.25, 0.1]) for i in range(6)] + [
        (99, [-1.0, -0.5, 0.25, -0.1])  # opposite direction -> other bucket
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.bucket_topk(df, "vec_id", "embedding", n_planes=4)
    rows_out = out.collect()
    by_q = {r["query_id"]: r for r in rows_out}
    # the co-directional cluster finds neighbors; cosines ~1
    assert all(by_q[i]["cosine"] > 0.999 for i in range(6))
    # the lone opposite vector has no bucket peers -> absent
    assert 99 not in by_q


def test_normalize_text_canonicalizes_variants(spark):
    df = spark.createDataFrame(
        [(1, "Hello,   World!"), (2, "hello world"), (3, "  HELLO?? world  ")],
        "id long, text string",
    )
    out = {
        r["id"]: r["norm_text"]
        for r in df.select("id", text.norm_expr("text").alias("norm_text")).collect()
    }
    assert out == {1: "hello world", 2: "hello world", 3: "hello world"}


def test_connected_components_chain_and_islands(spark):
    """A 4-node chain (worst diameter per node count), a 2-node island,
    and an implicit singleton via self-referencing edge all get the min
    reachable id as their component."""
    from youtube_analytics_lakehouse_databricks_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(4, 3), (3, 2), (2, 1), (10, 11), (20, 20)], "a long, b long"
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(edges, "a", "b").collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_text_operators(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the hat"), (2, "der hund und die katze und der ball")],
        "id long, text string",
    )
    q = {r["id"]: r for r in text.quality_scores(df, "id", "text").collect()}
    assert q[1]["n_tokens"] == 5 and q[1]["n_distinct_tokens"] == 4
    assert abs(q[1]["stopword_ratio"] - 3 / 5) < 1e-9  # the, and, the

    lang = {r["id"]: r["predicted_lang"] for r in text.lang_id(df, "id", "text").collect()}
    assert lang[1] == "en" and lang[2] == "de"

    counts = {
        r["token"]: r["token_count"] for r in text.token_counts(df, "text", min_count=2).collect()
    }
    assert counts["the"] == 2 and counts["und"] == 2 and counts["der"] == 2
