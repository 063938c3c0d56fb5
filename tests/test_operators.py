"""Unit tests for the operator modules over small inline frames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reactionetl_etl_spark.operators import dedup as D
from reactionetl_etl_spark.operators import relational as R
from reactionetl_etl_spark.operators import similarity as S
from reactionetl_etl_spark.operators import text as TX


# ---------------------------------------------------------------------------
# relational
# ---------------------------------------------------------------------------


def test_enrich_fills_null_gaps_only(spark):
    """J1/F1 semantics: NULL fact keys get the dim value; existing keys
    are preserved (reference: database_manager.py:224-233)."""
    fact = spark.createDataFrame(
        [("s1", None), ("s2", 99), ("s3", None)],
        "simulation_id string, simulation_num int",
    )
    dim = spark.createDataFrame(
        [("s1", 1), ("s2", 2)], "simulation_id string, simulation_num int"
    )
    out = {
        r["simulation_id"]: r["simulation_num"]
        for r in R.enrich_with_dim(fact, dim, "simulation_id", ["simulation_num"]).collect()
    }
    assert out == {"s1": 1, "s2": 99, "s3": None}


def test_enrich_preserves_rowcount(spark, sf_dir):
    """Property: enrichment never changes fact cardinality (SURVEY §5.3)."""
    from reactionetl_etl_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    enriched = R.enrich_with_dim(orders, cust, "o_custkey", ["c_nationkey"])
    assert enriched.count() == orders.count()


def test_dense_sequence_is_dense_and_offset(spark):
    df = spark.createDataFrame([("b",), ("a",), ("c",)], "k string")
    out = R.dense_sequence(df, ["k"], out_col="n", offset=10).collect()
    assert {(r["k"], r["n"]) for r in out} == {("a", 11), ("b", 12), ("c", 13)}


def test_topk_per_group_deterministic(spark):
    df = spark.createDataFrame(
        [(1, 10, "x"), (1, 10, "y"), (2, 5, "z")], "g int, v int, id string"
    )
    out = R.topk_per_group(df, ["g"], [F.col("v").desc(), F.col("id").asc()], 1).collect()
    assert {(r["g"], r["id"]) for r in out} == {(1, "x"), (2, "z")}


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    near = base.replace("lazy", "sleepy")  # one token differs → near-dup
    other = "completely different content about spark query engines and shuffles"
    return spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)], "doc_id long, text string"
    )


def test_exact_dedup_keeps_min_id(spark, docs):
    kept = {r["doc_id"] for r in D.exact_dedup(docs, ["text"], "doc_id").collect()}
    assert kept == {1, 3, 4}


def test_fingerprint_dedup_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world "), (3, "bye")], "doc_id long, text string"
    )
    out = D.fingerprint_dedup(df, "text", "doc_id").collect()
    groups = {r["keeper_id"]: r["n_members"] for r in out}
    assert groups == {1: 2, 3: 1}


def test_minhash_finds_planted_neardup(spark, docs):
    pairs = D.minhash_lsh_candidates(docs, "text", "doc_id", min_jaccard=0.3).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got  # exact dup always collides
    assert (1, 3) in got or (2, 3) in got  # near-dup should be caught
    assert all(4 not in p for p in got)  # unrelated doc never pairs


def test_minhash_signature_stable_across_partitioning(spark, docs):
    a = D.minhash_signature(docs, "text").select("doc_id", "signature").collect()
    b = (
        D.minhash_signature(docs.repartition(7), "text")
        .select("doc_id", "signature")
        .collect()
    )
    assert {r["doc_id"]: r["signature"] for r in a} == {r["doc_id"]: r["signature"] for r in b}


def test_minhash_normalization_collides_case_variants(spark):
    """shingle() tokenizes the NORMALIZED text, so whitespace/case
    variants produce identical signatures (matches fingerprint_dedup)."""
    df = spark.createDataFrame(
        [(1, "The  Quick Brown FOX jumps high today"), (2, "the quick brown fox jumps high today")],
        "doc_id long, text string",
    )
    pairs = D.minhash_lsh_candidates(df, "text", "doc_id", min_jaccard=0.9).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    assert pairs[0]["est_jaccard"] == 1.0


def test_minhash_rejects_indivisible_bands(spark, docs):
    with pytest.raises(ValueError, match="divisible"):
        D.minhash_lsh_candidates(docs, "text", "doc_id", num_perm=32, bands=7)


def test_minhash_bucket_cap_defuses_boilerplate(spark):
    """1000 identical docs would make a 499,500-pair quadratic bucket;
    the cap drops oversized buckets before the self-join while leaving
    normal-sized groups' candidates intact."""
    rows = [(i, "identical boilerplate text repeated everywhere always") for i in range(1000)]
    rows += [(2001, "a genuinely unique document about spark engines"),
             (2002, "a genuinely unique document about spark engines")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = D.minhash_lsh_candidates(
        df, "text", "doc_id", min_jaccard=0.3, max_bucket=64
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # every boilerplate bucket has 1000 members > cap → dropped whole;
    # the normal-sized pair is untouched
    assert got == {(2001, 2002)}
    # uncapped on a small slice still works (sanity that the cap is the
    # only thing suppressing the boilerplate pairs)
    small = spark.createDataFrame(rows[:3], "doc_id long, text string")
    assert len(D.minhash_lsh_candidates(small, "text", "doc_id", min_jaccard=0.3).collect()) == 3


def test_simhash_neardup_and_separation(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             D.simhash_candidates(docs, "text", "doc_id", max_hamming=10).collect()}
    assert pairs.get((1, 2)) == 0  # identical text → identical simhash
    assert all(4 not in p for p in pairs)


def test_connected_components_clusters(spark):
    """Chain 1-2-3 plus pair (10,11) plus self-contained clique: every
    node labels with its cluster's min id; transitivity crosses pairs
    that were never directly compared (the A~B, B~C, A!~C case)."""
    from reactionetl_etl_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, "id_a", "id_b").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------


def test_binned_range_join_boundaries(spark):
    """Half-open [lo, hi) semantics across bin boundaries: a value
    exactly at hi never matches; exactly at lo always does; intervals
    spanning many bins match everywhere inside."""
    facts = spark.createDataFrame([(float(v),) for v in (0, 5, 10, 19.999, 20, 35)], "v double")
    ranges = spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 10.0, 20.0), ("wide", 0.0, 35.0)],
        "name string, lo double, hi double",
    )
    got = {
        (r["v"], r["name"])
        for r in R.binned_range_join(facts, ranges, "v", "lo", "hi", bin_width=7.0).collect()
    }
    expected = {
        (v, n)
        for v in (0.0, 5.0, 10.0, 19.999, 20.0, 35.0)
        for (n, lo, hi) in (("a", 0, 10), ("b", 10, 20), ("wide", 0, 35))
        if lo <= v < hi
    }
    assert got == expected


def test_cosine_topk_matches_numpy(spark, sf_dir):
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pydict()
    ids, vecs = tbl["vec_id"], np.array([list(v) for v in tbl["embedding"]], dtype=np.float64)
    q = vecs[ids.index(0)]
    sims = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    order = sorted(
        ((s, i) for s, i in zip(sims, ids) if i != 0), key=lambda t: (-round(t[0], 6), t[1])
    )
    expected = [i for _, i in order[:10]]

    from reactionetl_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    got = [r["vec_id"] for r in S.cosine_topk(emb, query_id=0, k=10).collect()]
    assert got == expected


def test_ivf_trained_recall_vs_bruteforce(spark):
    """Trained-centroid multi-probe IVF must recover ≥ 8 of the exact
    top-10 (deterministic seed → stable result). Pinned to sf0.01 (500
    vectors): k-means cells need enough data to be meaningful."""
    from reactionetl_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    bf = [r["vec_id"] for r in S.cosine_topk(emb, 0, k=10).collect()]
    ivf = [
        r["vec_id"]
        for r in S.ivf_cosine_topk(emb, 0, dim=64, k=10, n_cells=16, n_probe=6).collect()
    ]
    assert len(set(bf) & set(ivf)) >= 8


def test_cosine_topk_batch_matches_per_query(spark, sf_dir):
    """The batch pass must return exactly what N single-query calls
    return — same neighbours, same order, same rounded sims."""
    from reactionetl_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch = {}
    for r in S.cosine_topk_batch(qs, emb, k=5).collect():
        batch.setdefault(r["query_id"], []).append((r["vec_id"], r["cosine_sim"]))
    for qid in range(4):
        single = [
            (r["vec_id"], r["cosine_sim"])
            for r in S.cosine_topk(emb, query_id=qid, k=5).collect()
        ]
        assert batch[qid] == single


def test_batch_ann_recall_vs_exact(spark):
    """LSH and IVF batch variants: per-query recall against the exact
    batch top-10 (sf0.01, 500 vectors — enough for trained cells).
    IVF multi-probe (10/16 cells — the embeddings are near-uniform,
    IVF's hardest case) must average ≥0.8 recall; multi-probe LSH
    recall must climb with probe radius. On UNIFORM random vectors LSH
    recall ≈ scan fraction (no cluster structure to exploit — the
    worst case; real embedding corpora cluster), so the radii map to
    measured recalls ~0.18 (single, 1/16 buckets) → ~0.51 (r1, 5/16)
    → ~0.78 (r2, 11/16) → ~0.99 (r3, 15/16): r1 strictly beats
    single-probe, r2 ≥ 0.7, r3 ≥ 0.8 (VERDICT r5's recall bar)."""
    from reactionetl_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {}
    for r in S.cosine_topk_batch(qs, emb, k=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    ivf = {}
    for r in S.ivf_cosine_topk_batch(qs, emb, dim=64, k=10, n_cells=16, n_probe=10).collect():
        ivf.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(exact[q] & ivf.get(q, set())) / 10 for q in exact]
    assert sum(recalls) / len(recalls) >= 0.8, recalls

    def lsh_recall(multi_probe, probe_radius=1):
        got = {}
        rows = S.lsh_cosine_topk_batch(
            qs, emb, dim=64, k=10, bits=4,
            multi_probe=multi_probe, probe_radius=probe_radius,
        ).collect()
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
            assert r["query_id"] != r["vec_id"]  # self excluded
        rs = [len(exact[q] & got.get(q, set())) / 10 for q in exact]
        return sum(rs) / len(rs)

    single = lsh_recall(False)
    r1, r2, r3 = lsh_recall(True, 1), lsh_recall(True, 2), lsh_recall(True, 3)
    assert r1 > single, (single, r1)
    assert r2 >= 0.7, (single, r1, r2)
    assert r3 >= 0.8, (single, r1, r2, r3)


def test_lsh_index_probe_matches_inplan_batch(spark, sf_dir, tmp_path):
    """Probing the PERSISTED bucket-partitioned index returns exactly
    what the in-plan batch computes (deterministic hyperplanes bucket
    both identically), and appending a second batch grows the index."""
    from reactionetl_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "lsh_index")
    S.write_lsh_index(first, dim=64, path=path, bits=4)
    S.write_lsh_index(second, dim=64, path=path, bits=4)  # incremental append

    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = spark.read.parquet(path)
    probe = {
        (r["query_id"], r["vec_id"], r["cosine_sim"])
        for r in S.probe_lsh_index(qs, idx, dim=64, k=5, bits=4).collect()
    }
    inplan = {
        (r["query_id"], r["vec_id"], r["cosine_sim"])
        for r in S.lsh_cosine_topk_batch(qs, emb, dim=64, k=5, bits=4).collect()
    }
    assert probe == inplan and probe


def test_lsh_index_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The probe must touch only the bucket partitions the queries hash
    into: with one query there is exactly one query bucket, and the
    executed plan's dynamic-pruning/partition filters must reference
    lsh_bucket rather than scanning all 2^bits partitions."""
    from reactionetl_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "lsh_index_prune")
    S.write_lsh_index(emb, dim=64, path=path, bits=4, mode="overwrite")
    qs = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = S.probe_lsh_index(qs, spark.read.parquet(path), dim=64, k=5, bits=4)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower() or "PartitionFilters: [" in plan


def test_ivf_index_probe_matches_inplan_batch(spark, tmp_path):
    """Probing the persisted IVF index with its stored centroids
    returns exactly what the in-plan batch computes with the same
    centroids, and an appended second batch (re-celled with the STORED
    centroids) lands consistently."""
    from reactionetl_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    path = str(tmp_path / "ivf_index")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    cents = S.write_ivf_index(first, dim=64, path=path, n_cells=8)
    # append the second batch with the STORED centroids (never retrain)
    S.write_ivf_index(second, dim=64, path=path, centroids=cents, mode="append")

    stored = S.read_ivf_centroids(spark, path)
    assert stored == [[float(x) for x in c] for c in cents]
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    vectors = spark.read.parquet(f"{path}/vectors")
    probe = {
        (r["query_id"], r["vec_id"], r["cosine_sim"])
        for r in S.probe_ivf_index(qs, vectors, stored, k=5, n_probe=4).collect()
    }
    inplan = {
        (r["query_id"], r["vec_id"], r["cosine_sim"])
        for r in S.ivf_cosine_topk_batch(
            qs, emb, dim=64, k=5, n_cells=8, n_probe=4, centroids=cents
        ).collect()
    }
    assert probe == inplan and probe
    # append without the stored centroids must refuse, not retrain
    import pytest

    with pytest.raises(ValueError, match="stored centroids"):
        S.write_ivf_index(second, dim=64, path=path, mode="append")


def test_lsh_topk_subset_of_corpus(spark, sf_dir):
    from reactionetl_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = S.lsh_cosine_topk(emb, query_id=0, dim=64, k=10, bits=4).collect()
    assert 0 < len(rows) <= 10
    assert all(r["vec_id"] != 0 for r in rows)
    # sims sorted descending
    sims = [r["cosine_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)


# ---------------------------------------------------------------------------
# text
# ---------------------------------------------------------------------------


def test_quality_score_bounds(spark, sf_dir):
    from reactionetl_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    stats = docs.select(TX.quality_score("text").alias("q")).agg(
        F.min("q").alias("lo"), F.max("q").alias("hi")
    ).first()
    assert 0.0 <= stats["lo"] <= stats["hi"] <= 1.0


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of to a house"),
            (2, "der hund und die katze das ein haus"),
            (3, "xyzzy plugh quux"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["pred"] for r in df.select("doc_id", TX.lang_id("text").alias("pred")).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "hello world, 42 times!")], "id long, text string")
    row = df.select(
        TX.token_count("text").alias("ws"),
        TX.regex_token_count("text").alias("bpe"),
    ).first()
    assert row["ws"] == 4
    # hello / world / , / 42 / times / !
    assert row["bpe"] == 6


def test_rolling_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame([(1, "a b c"), (2, "c b a")], "id long, text string")
    out = [r["fp"] for r in df.select(TX.rolling_fingerprint("text").alias("fp")).collect()]
    assert out[0] != out[1]


def test_hash_split_deterministic_and_proportional(spark):
    """Same rows → same split regardless of partitioning; proportions
    land near the weights; frames are disjoint and cover the input.
    (md5 with a fixed salt is deterministic, so this never flakes.)"""
    from pyspark.sql import functions as F

    from reactionetl_etl_spark.operators.split import hash_split, split_frames

    ids = spark.range(2000).select(F.col("id").alias("doc_id"))
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r["doc_id"]: r["split"] for r in hash_split(ids, "doc_id", w).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(ids.repartition(7), "doc_id", w).collect()
    }
    assert a == b
    n = len(a)
    train_frac = sum(1 for s in a.values() if s == "train") / n
    assert 0.75 < train_frac < 0.85
    frames = split_frames(ids, "doc_id", w)
    got = [set(r["doc_id"] for r in f.select("doc_id").collect()) for f in frames.values()]
    assert sum(len(s) for s in got) == n
    assert set.union(*got) == set(a)


def test_hash_split_rejects_bad_weights(spark, docs):
    from reactionetl_etl_spark.operators.split import hash_split

    with pytest.raises(ValueError, match="sum to 1.0"):
        hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1})


def test_hash_split_salt_redeals(spark, docs):
    """A different salt reassigns documents; the same salt pins them."""
    from reactionetl_etl_spark.operators.split import hash_split

    w = {"train": 0.5, "other": 0.5}
    a = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id", w, salt="s1").collect()}
    c = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id", w, salt="s2").collect()}
    assert a != c


def test_split_by_cluster_coassigns_members(spark):
    """Every member of a cluster lands in the SAME split; unclustered
    rows match plain hash_split on their own key (so adding a cluster
    map never re-deals the rest of the corpus)."""
    from pyspark.sql import functions as F

    from reactionetl_etl_spark.operators.split import hash_split, split_by_cluster

    ids = spark.range(500).select(F.col("id").alias("doc_id"))
    # clusters: {0..9}→0, {100..104}→100 (ids as members, min-label roots)
    members = [(i, 0) for i in range(10)] + [(i, 100) for i in range(100, 105)]
    clusters = spark.createDataFrame(members, "node long, component long")
    w = {"train": 0.6, "val": 0.2, "test": 0.2}
    out = {
        r["doc_id"]: r["split"]
        for r in split_by_cluster(ids, "doc_id", clusters, w).collect()
    }
    assert len(out) == 500
    assert len({out[i] for i in range(10)}) == 1
    assert len({out[i] for i in range(100, 105)}) == 1
    plain = {r["doc_id"]: r["split"] for r in hash_split(ids, "doc_id", w).collect()}
    clustered = set(range(10)) | set(range(100, 105))
    for i in out:
        if i not in clustered:
            assert out[i] == plain[i]


def test_minhash_index_probe_incremental(spark, tmp_path):
    """Sign-once incremental dedup: index a corpus, probe a new batch
    against it (finding cross-batch near-dups without re-signing the
    corpus), append the batch, and probe again."""
    from reactionetl_etl_spark.operators.dedup import (
        probe_minhash_index,
        write_minhash_index,
    )

    base = "the quick brown fox jumps over the lazy dog " * 5
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different content about spark engines")],
        "doc_id long, text string",
    )
    idx_path = str(tmp_path / "mh_index")
    write_minhash_index(corpus, "text", "doc_id", idx_path)

    near = base.replace("lazy", "sleepy")
    batch = spark.createDataFrame(
        [(10, near), (11, "unrelated fresh text about benchmarking")],
        "doc_id long, text string",
    )
    idx = spark.read.parquet(idx_path)
    hits = probe_minhash_index(batch, idx, "text", "doc_id").collect()
    assert {(r["new_id"], r["index_id"]) for r in hits} == {(10, 1)}
    assert all(r["est_jaccard"] >= 0.5 for r in hits)

    # append the batch; a duplicate of doc 10 submitted later is caught
    write_minhash_index(batch, "text", "doc_id", idx_path, mode="append")
    later = spark.createDataFrame([(20, near)], "doc_id long, text string")
    idx2 = spark.read.parquet(idx_path)
    hits2 = {(r["new_id"], r["index_id"]) for r in probe_minhash_index(later, idx2, "text", "doc_id").collect()}
    assert (20, 10) in hits2 and (20, 1) in hits2


def test_probe_matches_self_join_candidates(spark, docs):
    """Probing a corpus against its own index finds exactly the pairs
    the batch self-join finds (both directions, self-matches dropped)."""
    from reactionetl_etl_spark.operators.dedup import (
        banded_signatures,
        minhash_lsh_candidates,
        probe_minhash_index,
    )

    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(docs, "text", "doc_id").collect()
    }
    idx = banded_signatures(docs, "text", "doc_id")
    probed = {
        tuple(sorted((r["new_id"], r["index_id"])))
        for r in probe_minhash_index(docs, idx, "text", "doc_id").collect()
    }
    assert probed == pairs


# ---------------------------------------------------------------------------
# PII redaction / n-gram contamination / repetition
# ---------------------------------------------------------------------------


def test_redact_pii_strips_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@sub.example.org or call +1-555-0199 now"),
            (2, "no pii here at all"),
            (3, "two mails a@b.io c@d.co and +44-123-4567"),
        ],
        "id long, text string",
    )
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            TX.pii_count("text", "email").alias("ne"),
            TX.pii_count("text", "phone").alias("np"),
            TX.redact_pii("text").alias("red"),
        ).collect()
    }
    assert (out[1]["ne"], out[1]["np"]) == (1, 1)
    assert out[1]["red"] == "mail me at <EMAIL> or call <PHONE> now"
    assert (out[2]["ne"], out[2]["np"]) == (0, 0)
    assert out[2]["red"] == "no pii here at all"
    assert (out[3]["ne"], out[3]["np"]) == (2, 1)
    assert "@" not in out[3]["red"] and "+44" not in out[3]["red"]


def test_token_ngrams_truncates_short_docs(spark):
    """Docs shorter than k emit ONE truncated shingle (dedup.shingle
    semantics), and normalization collapses case/whitespace."""
    df = spark.createDataFrame(
        [(1, "A  b\tC d"), (2, "one two")], "id long, text string"
    )
    grams = {
        (r["id"], r["gram"]) for r in TX.token_ngrams(df, "text", 3).collect()
    }
    assert grams == {
        (1, "a b c"),
        (1, "b c d"),
        (2, "one two"),
    }


def test_chunk_documents_coverage_and_overlap(spark):
    """Every token appears in some chunk; consecutive chunks overlap by
    chunk-stride tokens; short docs yield exactly one chunk."""
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(100))), (2, "a b c")],
        "doc_id long, text string",
    )
    rows = sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk_text"].split(" "))
        for r in TX.chunk_documents(df, "text", chunk_tokens=64, stride=48).collect()
    )
    by_doc = {}
    for d, i, toks in rows:
        by_doc.setdefault(d, []).append((i, toks))
    # doc 2: 3 tokens < chunk → one short chunk
    assert by_doc[2] == [(0, ["a", "b", "c"])]
    # doc 1: starts at 1 and 49 → chunks [t0..t63], [t48..t99]
    assert [i for i, _ in by_doc[1]] == [0, 1]
    c0, c1 = by_doc[1][0][1], by_doc[1][1][1]
    assert c0 == [f"t{i}" for i in range(64)]
    assert c1 == [f"t{i}" for i in range(48, 100)]
    assert set(c0) | set(c1) == {f"t{i}" for i in range(100)}  # full coverage
    assert set(c0) & set(c1) == {f"t{i}" for i in range(48, 64)}  # 16-token overlap


def test_ngram_contamination_finds_planted_overlap(spark):
    train = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon"),
            (11, "zeta eta theta iota kappa"),
            (12, "alpha beta gamma delta zeta zeta"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(90, "x alpha beta gamma delta y")], "doc_id long, text string"
    )
    got = {
        (r["train_id"], r["eval_id"]): r["n_shared"]
        for r in TX.ngram_contamination(train, ev, "text", "doc_id", k=4).collect()
    }
    # doc 10 and 12 share 'alpha beta gamma delta' with the eval doc; 11 shares nothing
    assert got == {(10, 90): 1, (12, 90): 1}


def test_ngram_contamination_shuffle_path_parity(spark, sf_dir):
    """The non-broadcast (hash-shuffle) fallback must agree pair-for-
    pair with the broadcast path over the fixture corpus."""
    from reactionetl_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tr = docs.filter(F.col("doc_id") % 97 != 0)
    bc = {
        (r["train_id"], r["eval_id"]): r["n_shared"]
        for r in TX.ngram_contamination(tr, ev, "text", "doc_id", k=4).collect()
    }
    sh = {
        (r["train_id"], r["eval_id"]): r["n_shared"]
        for r in TX.ngram_contamination(
            tr, ev, "text", "doc_id", k=4, broadcast_eval=False
        ).collect()
    }
    assert bc == sh and bc


# ---------------------------------------------------------------------------
# grouped (EWMA recurrence)
# ---------------------------------------------------------------------------


def test_ewma_matches_manual_recurrence(spark):
    from reactionetl_etl_spark.operators.grouped import ewma_per_group_pandas

    vals = [3.0, 1.0, 4.0, 1.0, 5.0]
    df = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)], "k long, t long, value double"
    )
    out = {
        r["t"]: r["ewma"]
        for r in ewma_per_group_pandas(df, ["k"], ["t"], "value", alpha=0.5).collect()
    }
    y = vals[0]
    expect = {0: y}
    for i, x in enumerate(vals[1:], start=1):
        y = 0.5 * x + 0.5 * y
        expect[i] = y
    assert out == expect


def test_frequent_items_exact_parity_and_guarantee(spark):
    """Misra-Gries two-pass returns EXACTLY the items a brute-force
    groupBy finds above the threshold — including under heavy skew and
    many partitions (candidate superset guarantee exercised with the
    minimum legal k)."""
    import random

    from reactionetl_etl_spark.operators.frequency import frequent_items

    rng = random.Random(5)
    # zipf-ish: item i appears ~ 4000/i times
    rows = [(f"w{i}",) for i in range(1, 60) for _ in range(4000 // i)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "token string").repartition(16)
    for min_share, k in [(0.02, None), (0.02, 50), (0.05, 20)]:
        got = {
            (r["token"], r["n"])
            for r in frequent_items(df, "token", min_share, k=k).collect()
        }
        total = len(rows)
        brute = {
            (r["token"], r["n"])
            for r in df.groupBy("token")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") >= total * min_share)
            .collect()
        }
        assert got == brute, (min_share, k)


def test_frequent_items_edge_cases(spark):
    from reactionetl_etl_spark.operators.frequency import frequent_items

    empty = spark.createDataFrame([], "token string")
    assert frequent_items(empty, "token", 0.1).collect() == []
    nulls = spark.createDataFrame([(None,), ("a",), ("a",)], "token string")
    [row] = frequent_items(nulls, "token", 0.5).collect()
    assert (row["token"], row["n"], row["share"]) == ("a", 2, 1.0)
    try:
        frequent_items(nulls, "token", 0.1, k=3)  # k < 1/min_share
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_int8_quantization_error_bound_and_zero_vector(spark):
    """Reconstruction error ≤ scale/2 per component; codes stay in
    [-127, 127]; zero vectors round-trip to zeros with scale 0."""
    import numpy as np

    from reactionetl_etl_spark.operators.similarity import (
        dequantize_embeddings_int8,
        quantize_embeddings_int8,
    )

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 16)]) for i in range(50)]
    rows.append((999, [0.0] * 16))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dequantize_embeddings_int8(quantize_embeddings_int8(df)).collect()
    for r in out:
        orig, dq, scale, qv = r["embedding"], r["embedding_dq"], r["qscale"], r["qvec"]
        assert all(-127 <= q <= 127 for q in qv)
        if r["vec_id"] == 999:
            assert scale == 0.0 and all(v == 0.0 for v in dq)
            continue
        for a, b in zip(orig, dq):
            assert abs(a - b) <= scale / 2 + 1e-12


def test_fuzzy_pairs_pigeonhole_guarantee(spark):
    """Pigeonhole blocking finds EVERY same-length pair within
    max_dist substitutions (brute-force parity) and never emits a pair
    over the distance bound."""
    import itertools
    import random

    from reactionetl_etl_spark.operators.fuzzy import substitution_fuzzy_pairs

    rng = random.Random(11)
    base = ["gradient", "boosting", "sampler", "token", "corpus"]
    names = set(base)
    for w in base:  # substitution-mutated variants, same length
        for _ in range(3):
            pos = rng.randrange(len(w))
            names.add(w[:pos] + rng.choice("abcxyz") + w[pos + 1 :])
    rows = [(i, n) for i, n in enumerate(sorted(names))]
    df = spark.createDataFrame(rows, "id int, name string")
    got = {
        (r["id_a"], r["id_b"], r["edit_dist"])
        for r in substitution_fuzzy_pairs(df, "name", "id", max_dist=2).collect()
    }

    def lev(a, b):
        d = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (ca != cb))
        return d[-1]

    brute = {
        (ia, ib, lev(na, nb))
        for (ia, na), (ib, nb) in itertools.combinations(rows, 2)
        if len(na) == len(nb) and lev(na, nb) <= 2
    }
    assert got == brute
    assert all(d <= 2 for _, _, d in got)


# ---------------------------------------------------------------------------
# semdedup (semantic dedup)
# ---------------------------------------------------------------------------


def test_semdedup_verdict_table_shape_and_determinism(spark, sf_dir):
    """One verdict row per input vector; two runs (fresh plans, same
    seed) return byte-identical verdicts — the drop list is auditable
    and resumable."""
    from reactionetl_etl_spark.operators.semdedup import semantic_dedup
    from reactionetl_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    a = semantic_dedup(emb, dim=64, n_cells=4, threshold=0.40).orderBy("vec_id")
    b = semantic_dedup(emb, dim=64, n_cells=4, threshold=0.40).orderBy("vec_id")
    rows_a, rows_b = a.collect(), b.collect()
    assert len(rows_a) == n
    assert len({r["vec_id"] for r in rows_a}) == n
    assert [tuple(r) for r in rows_a] == [tuple(r) for r in rows_b]


def test_semdedup_matches_bruteforce_components_and_keeper_rule(spark):
    """Parity against a numpy union-find oracle: same-cell pairs at the
    threshold, transitive closure, keeper = argmin (centroid_sim, id)
    per component — exactly one keeper per group, all other members
    dropped, singletons kept with NULL component."""
    import numpy as np
    import pyarrow.parquet as pq

    from reactionetl_etl_spark.operators.semdedup import semantic_dedup
    from reactionetl_etl_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    out = semantic_dedup(emb, dim=64, n_cells=8, threshold=0.40).collect()

    tbl = pq.read_table(f"{sf}/embeddings.parquet").to_pydict()
    vecs = {i: np.asarray(v, dtype=np.float64) for i, v in zip(tbl["vec_id"], tbl["embedding"])}
    cell = {r["vec_id"]: r["cell"] for r in out}
    csim = {r["vec_id"]: r["centroid_sim"] for r in out}

    ids = sorted(vecs)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    linked = set()
    for ii, a in enumerate(ids):
        va = vecs[a]
        for b in ids[ii + 1 :]:
            if cell[a] != cell[b]:
                continue
            vb = vecs[b]
            sim = round(float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), 6)
            if sim >= 0.40:
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
                linked.update((a, b))

    expected_comp = {i: find(i) for i in ids if i in linked}
    got_comp = {r["vec_id"]: r["component"] for r in out if r["component"] is not None}
    assert got_comp == expected_comp

    groups: dict[int, list[int]] = {}
    for i, c in expected_comp.items():
        groups.setdefault(c, []).append(i)
    expected_keep = {i: True for i in ids if i not in linked}
    for c, members in groups.items():
        keeper = min(members, key=lambda i: (csim[i], i))
        for i in members:
            expected_keep[i] = i == keeper
    assert {r["vec_id"]: r["keep"] for r in out} == expected_keep
    # every duplicate group loses all but one member
    for members in groups.values():
        assert sum(expected_keep[i] for i in members) == 1


def test_semdedup_cell_guard_raises(spark, sf_dir):
    """max_cell_rows trips before the quadratic join is scheduled."""
    import pytest as _pytest

    from reactionetl_etl_spark.operators.semdedup import semantic_dedup
    from reactionetl_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    with _pytest.raises(ValueError, match="max_cell_rows"):
        semantic_dedup(emb, dim=64, n_cells=2, threshold=0.40, max_cell_rows=3)


def _force_distributed_graph_loops(monkeypatch):
    """Send every non-empty graph past the driver fast path of the
    graph operators, into their distributed loops."""
    from reactionetl_etl_spark.operators import graph

    monkeypatch.setattr(graph, "SMALL_GRAPH_MAX_EDGES", 0)


def test_connected_components_small_graph_path_parity(spark, monkeypatch):
    """The bounded driver union-find returns labels IDENTICAL to the
    distributed min-propagation loop (same graph, both strategies) —
    chains, cliques, singleton-free nodes, and cross-linking all
    agree."""
    import random

    from reactionetl_etl_spark.operators.graph import connected_components

    rng = random.Random(7)
    edges = set()
    for base in range(0, 400, 40):  # 10 clusters: chains + extra chords
        members = list(range(base, base + rng.randint(2, 12)))
        for a, b in zip(members, members[1:]):
            edges.add((a, b))
        for _ in range(3):
            edges.add((rng.choice(members), rng.choice(members)))
    df = spark.createDataFrame(
        [(a, b) for a, b in sorted(edges) if a != b], "id_a long, id_b long"
    )
    fast = {
        (r["node"], r["component"])
        for r in connected_components(df, "id_a", "id_b").collect()
    }
    _force_distributed_graph_loops(monkeypatch)
    slow = {
        (r["node"], r["component"])
        for r in connected_components(df, "id_a", "id_b").collect()
    }
    assert fast == slow and len(fast) > 0


def test_cap_per_group_exact_and_deterministic(spark):
    """cap_per_group keeps exactly min(cap, group size) rows per group,
    picks the md5-smallest order keys (so membership is stable under
    re-runs AND under appends that hash later), and is idempotent."""
    from pyspark.sql import functions as F

    from reactionetl_etl_spark.operators.split import cap_per_group

    df = spark.createDataFrame(
        [(g, i) for g in ("a", "b") for i in range(40)] + [("tiny", 0), ("tiny", 1)],
        "grp string, id int",
    )
    out = cap_per_group(df, ["grp"], cap=5, order_key="id")
    counts = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a": 5, "b": 5, "tiny": 2}
    # survivors are the hash-smallest ids per group — verify against a
    # driver-side recompute of the same md5 ordering
    import hashlib

    kept = {(r["grp"], r["id"]) for r in out.collect()}
    for g in ("a", "b"):
        ranked = sorted(range(40), key=lambda i: (hashlib.md5(f"s42:{i}".encode()).hexdigest(), i))
        assert {(g, i) for i in ranked[:5]} == {t for t in kept if t[0] == g}
    # idempotent: capping the capped output changes nothing
    again = cap_per_group(out, ["grp"], cap=5, order_key="id")
    assert {(r["grp"], r["id"]) for r in again.collect()} == kept


def test_duplicated_span_extents_tiny_fixture(spark):
    """Two docs sharing one long phrase → each gets exactly one extent
    covering the phrase; a doc with no cross-doc shingle gets none;
    overlapping shingles merge into a single span."""
    from reactionetl_etl_spark.operators.text import duplicated_span_extents

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"  # 10 toks
    df = spark.createDataFrame(
        [
            (1, "one two three " + shared + " tail1 tail2"),
            (2, shared + " other words here"),
            (3, "completely different text with no overlap at all whatsoever"),
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicated_span_extents(df, "text", "doc_id", k=8).collect()
    }
    # doc1: shared phrase occupies tokens 4..13 → grams at pos 4,5,6 cover 4..13
    assert out[1] == (4, 13, 10)
    # doc2: phrase at tokens 1..10 → grams at pos 1,2,3 cover 1..10
    assert out[2] == (1, 10, 10)
    assert 3 not in out


def test_cut_duplicated_spans_owner_keeps_copy(spark):
    """The smallest-id doc keeps the shared phrase; every other copy is
    cut; untouched docs round-trip (normalized) with zero cut tokens;
    conservation: before - cut = len(rebuilt)."""
    from reactionetl_etl_spark.operators.text import cut_duplicated_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (1, "one two three " + shared + " tail1 tail2"),
            (2, shared + " other words here"),
            (3, "completely different text with no overlap at all whatsoever"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in cut_duplicated_spans(df, "text", "doc_id", k=8).collect()}
    assert out[1]["n_tokens_cut"] == 0 and shared in out[1]["text_dedup"]
    assert out[2]["n_tokens_cut"] == 10 and out[2]["text_dedup"] == "other words here"
    assert out[3]["n_tokens_cut"] == 0
    for r in out.values():
        rebuilt = r["text_dedup"].split(" ") if r["text_dedup"] else []
        assert r["n_tokens_before"] - r["n_tokens_cut"] == len(rebuilt)


def test_ann_recall_report_floors_and_ordering(spark, sf_dir):
    """The recall/cost report: every method beats its scan fraction is
    not required (PQ pays bytes, not rows), but LSH recall must climb
    with radius, IVF and PQ must clear their floors, and the frame is
    deterministic across builds."""
    from reactionetl_etl_spark.plans.catalog import all_queries

    q = all_queries()["ann_recall_report"].builder
    got = {r["method"]: (r["scan_fraction"], r["recall"]) for r in q(spark, sf_dir).collect()}
    assert set(got) == {
        "lsh_b8_r1", "lsh_b8_r2", "ivf_probe4", "ivfpq_probe4", "pq_rerank",
        "bits_rerank20",
    }
    assert got["lsh_b8_r2"][1] > got["lsh_b8_r1"][1]
    assert got["ivf_probe4"][1] >= 0.5
    assert got["pq_rerank"][1] >= 0.7
    # IVF-PQ probes the same cells as ivf_probe4 but ranks from m-byte
    # codes, not full floats: recall trails IVF's exact ranking (the
    # bytes-vs-rows trade), must still be real
    assert 0 < got["ivfpq_probe4"][1] <= got["ivf_probe4"][1]
    # 1-bit signs keep less geometry than PQ's 8 sub-codebooks at 32×
    # fewer bytes: recall must be real but below pq_rerank's
    assert 0 < got["bits_rerank20"][1] <= got["pq_rerank"][1]
    again = {r["method"]: (r["scan_fraction"], r["recall"]) for r in q(spark, sf_dir).collect()}
    assert again == got


def test_pagerank_matches_numpy_power_iteration(spark):
    """Distributed PageRank equals a dense numpy power iteration with
    the same damping/iterations/dangling convention, on a graph with a
    hub, a chain, and an isolated-ish leaf."""
    import numpy as np

    from reactionetl_etl_spark.operators.graph import pagerank

    edge_list = [(0, 1), (0, 2), (0, 3), (1, 2), (2, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(edge_list, "src int, dst int")
    got = {r["node"]: r["rank"] for r in pagerank(edges, n_iter=12).collect()}

    # numpy reference: symmetrized, same fixed-iteration recurrence
    nodes = sorted({x for e in edge_list for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    adj = np.zeros((n, n))
    for a, b in edge_list:
        adj[idx[a], idx[b]] = 1.0
        adj[idx[b], idx[a]] = 1.0
    deg = adj.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(12):
        inflow = (adj / deg[:, None]).T @ r
        r = (1 - 0.85) / n + 0.85 * inflow
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-12, (v, got[v], r[idx[v]])
    # the hub out-ranks the chain tail
    assert got[2] > got[5]


def test_bm25_ranking_semantics(spark):
    """BM25 sanity on a controlled corpus: a doc with more query-term
    occurrences (per length) outranks a dilute one; rare terms
    outweigh common ones; no-hit docs never appear; k truncates."""
    from reactionetl_etl_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark short doc"),
            (2, "spark " + "filler " * 50),
            (3, "rare term appears here once"),
            (4, "nothing relevant at all"),
            (5, "spark rare together text"),
        ],
        "doc_id int, text string",
    )
    out = bm25_topk(docs, ["spark", "rare"], k=10).collect()
    ids = [r["doc_id"] for r in out]
    assert 4 not in ids
    scores = {r["doc_id"]: r["bm25"] for r in out}
    assert scores[1] > scores[2]          # tf + length normalization
    assert scores[5] == max(scores.values())  # hits BOTH terms, one rare
    hitters = {r["doc_id"]: r["n_hit_terms"] for r in out}
    assert hitters[5] == 2 and hitters[1] == 1
    assert len(bm25_topk(docs, ["spark", "rare"], k=2).collect()) == 2


def test_bm25_index_probe_matches_scan_path(spark, sf_dir, tmp_path):
    """Probing the persisted posting index returns exactly the
    scan-time bm25_topk result, and the probe scans fewer posting
    files than the index holds (bucket pruning active)."""
    from reactionetl_etl_spark.operators.retrieval import (
        bm25_topk,
        probe_posting_index,
        write_posting_index,
    )
    from reactionetl_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "postidx")
    write_posting_index(docs, idx, n_buckets=64)
    probe = probe_posting_index(spark, idx, ["spark", "merge", "window"], k=10)
    scan = bm25_topk(docs, ["spark", "merge", "window"], k=10)
    got = [(r["doc_id"], r["bm25"], r["n_hit_terms"]) for r in probe.collect()]
    want = [(r["doc_id"], r["bm25"], r["n_hit_terms"]) for r in scan.collect()]
    assert got == want and len(got) == 10
    # bucket pruning is a PartitionFilter on the postings scan
    # (inputFiles() ignores partition filters — plan text is the witness)
    import re

    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^]]*bucket[^]]*IN", plan)


def test_interval_overlap_join_exact_and_no_duplicates(spark):
    """binned_interval_overlap_join equals the brute-force non-equi
    overlap join exactly — including pairs spanning many bins (no
    duplicates: the canonical-bin rule keeps one candidate per pair)
    and adjacent-but-not-overlapping intervals (half-open)."""
    from reactionetl_etl_spark.operators.relational import binned_interval_overlap_join

    a = spark.createDataFrame(
        [(1, 0.0, 10.0), (2, 5.0, 6.0), (3, 20.0, 120.0), (4, 200.0, 201.0)],
        "ida int, lo_a double, hi_a double",
    )
    b = spark.createDataFrame(
        [(10, 9.0, 25.0), (11, 10.0, 12.0), (12, 30.0, 40.0), (13, 115.0, 300.0)],
        "idb int, lo_b double, hi_b double",
    )
    got = {
        (r["ida"], r["idb"])
        for r in binned_interval_overlap_join(
            a, b, "lo_a", "hi_a", "lo_b", "hi_b", bin_width=7.0
        ).collect()
    }
    brute = {
        (r["ida"], r["idb"])
        for r in a.crossJoin(b)
        .filter("lo_a < hi_b AND lo_b < hi_a")
        .collect()
    }
    assert got == brute
    assert (1, 11) not in got        # touching at 10.0 — half-open, no overlap
    assert (3, 13) in got            # wide intervals spanning many bins, once
    rows = binned_interval_overlap_join(
        a, b, "lo_a", "hi_a", "lo_b", "hi_b", bin_width=7.0
    ).collect()
    assert len(rows) == len(got)     # no duplicate candidate survived


def test_hamming_candidates_zero_budget_is_exact_match(spark):
    """max_hamming=0 degenerates to one 64-bit chunk; the chunk key must
    be the unmasked signature (a (2^64-1)L mask literal overflows
    BIGINT and used to raise at analysis, ADVICE r6). Only identical
    signatures pair."""
    sig = spark.createDataFrame(
        [(1, -1), (2, -1), (3, 7), (4, 5), (5, -9223372036854775808)],
        "id long, simhash long",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.hamming_candidates(sig, "id", "simhash", max_hamming=0).collect()
    }
    assert pairs == {(1, 2): 0}


def test_repetition_signals_known_values(spark):
    """Hand-computed Gopher repetition signals on a fixture where the
    answers are obvious: duplicate lines and a dominating bigram."""
    from reactionetl_etl_spark.operators.text import repetition_signals

    rows = [
        # 4 lines, "same line" twice -> dup_line_frac 0.25;
        # text normalizes to "same line same line other ab x"
        (1, "same line\nsame line\nother ab\nx"),
        # no duplicate lines, "spam ham" repeated dominates bigrams
        (2, "spam ham spam ham spam"),
        (3, "solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_signals(df).collect()}

    r1 = got[1]
    assert r1["n_lines"] == 4
    assert abs(r1["dup_line_frac"] - 0.25) < 1e-9
    # chars: lines 9+9+8+1=27, distinct 9+8+1=18 -> 1-18/27 = 1/3
    assert abs(r1["dup_line_char_frac"] - round(1 - 18 / 27, 6)) < 1e-6
    # "same line" bigram occurs twice among bigrams of 6 tokens
    assert r1["top_bigram"] == "same line"

    r2 = got[2]
    assert r2["n_lines"] == 1 and r2["dup_line_frac"] == 0.0
    # bigrams: spam ham (x2), ham spam (x2) -> tie broken by DESC gram
    assert r2["top_bigram"] == "spam ham"
    # 2 occurrences x 8 chars / 22 normalized chars
    assert abs(r2["top_bigram_frac"] - round(16 / 22, 6)) < 1e-6

    r3 = got[3]
    # single-token doc: one truncated "bigram" = the token itself
    assert r3["top_bigram"] == "solo" and r3["n_lines"] == 1


def test_strip_html_blocks_entities_whitespace(spark):
    """script/style CONTENTS must vanish (the classic extractor bug),
    comments drop, entities decode in the standard order (&amp; last),
    tags collapse to whitespace."""
    from reactionetl_etl_spark.operators.text import strip_html

    html = (
        '<html><head><style>b { x: 1; }</style>'
        '<script>if (1 < 2) { alert("hi"); }</script></head>'
        "<body><!-- note --><h1>Title</h1>"
        "<p>a &amp;&amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</p>"
        "<div>multi\n  space</div></body></html>"
    )
    df = spark.createDataFrame([(1, html)], "id long, html string")
    got = df.select(strip_html("html").alias("t")).first()["t"]
    assert got == 'Title a && b <tag> "q" \'s\' end multi space'
    # &amp;lt; decodes to the LITERAL '&lt;', not '<' (single-pass order)
    df2 = spark.createDataFrame([(1, "<p>&amp;lt;</p>")], "id long, html string")
    assert df2.select(strip_html("html").alias("t")).first()["t"] == "&lt;"


def test_span_corruption_t5_semantics(spark):
    """Pinned-by-hand span corruption: masks are contiguous, sentinels
    number left-to-right, input+target partition the tokens exactly,
    and the pair is deterministic across runs/sessions (hash-seeded)."""
    from reactionetl_etl_spark.operators.text import span_corruption

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumped over the lazy dog again and again today")],
        "doc_id long, text string",
    )
    kw = dict(mask_rate=0.4, span_len=2)
    r = span_corruption(df, **kw).first()
    assert r["n_tokens"] == 13
    # masked runs are contiguous spans, sentinel ids increment
    assert r["corrupted_text"] == "the quick brown <extra_id_0> over <extra_id_1> and again today"
    assert r["target_text"] == "<extra_id_0> fox jumped <extra_id_1> the lazy dog again"
    assert r["n_masked"] == 6 and r["n_spans"] == 2
    # input + target together carry every original token exactly once
    orig = set("the quick brown fox jumped over the lazy dog again and again today".split())
    rebuilt = [t for t in (r["corrupted_text"] + " " + r["target_text"]).split() if not t.startswith("<extra_id_")]
    assert sorted(rebuilt) == sorted("the quick brown fox jumped over the lazy dog again and again today".split()), orig
    # deterministic: identical on a second run
    r2 = span_corruption(df, **kw).first()
    assert r2["corrupted_text"] == r["corrupted_text"] and r2["target_text"] == r["target_text"]
    # parameter validation
    import pytest

    with pytest.raises(ValueError, match="mask_rate"):
        span_corruption(df, mask_rate=1.5)
    with pytest.raises(ValueError, match="span_len"):
        span_corruption(df, span_len=0)


def test_dsir_weights_favor_target_like_docs(spark):
    """DSIR: documents sharing the target distribution's bigrams score
    higher log-weights than out-of-distribution documents; weights are
    deterministic across runs and partitionings."""
    from reactionetl_etl_spark.operators.dsir import dsir_log_weights

    target = spark.createDataFrame(
        [(100 + i, "the quick brown fox jumps over the lazy dog") for i in range(5)],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox naps beside the lazy dog"),  # target-like
            (2, "zzz qqq xxx unrelated tokens entirely different words"),  # OOD
        ],
        "doc_id long, text string",
    )
    w = {r["doc_id"]: r["log_weight"] for r in dsir_log_weights(corpus, target).collect()}
    assert w[1] > w[2], w
    w2 = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_log_weights(corpus.repartition(5), target.repartition(3)).collect()
    }
    assert w == w2

    import pytest

    with pytest.raises(ValueError, match="n_buckets"):
        dsir_log_weights(corpus, target, n_buckets=0)


def test_connected_components_long_chain_distributed(spark, monkeypatch):
    """A 1,500-node path graph through the DISTRIBUTED loop (fast path
    disabled): plain min-propagation would need ~1,500
    rounds (one hop per round) and silently time out at max_iter — the
    pointer-halving jump collapses the chain within the default 20
    rounds, and every node labels with the chain's minimum."""
    from reactionetl_etl_spark.operators.graph import connected_components

    n = 1500
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(9000, 9001)],
        "id_a long, id_b long",
    )
    _force_distributed_graph_loops(monkeypatch)
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, "id_a", "id_b").collect()
    }
    assert all(got[i] == 0 for i in range(n))
    assert got[9000] == 9000 and got[9001] == 9000
    assert len(got) == n + 2


def test_contamination_bloom_path_identical_to_other_regimes(spark, sf_dir):
    """All three contamination scale regimes (string broadcast, hash
    shuffle, bloom prefilter + exact verify) return IDENTICAL pairs —
    false positives cost lookups, never rows — and the bloom path's
    eval-size guard raises past max_eval_grams."""
    from reactionetl_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 40 == 0)
    tr = docs.filter(F.col("doc_id") % 40 != 0)

    def pairs(df):
        return {(r["train_id"], r["eval_id"]): r["n_shared"] for r in df.collect()}

    a = pairs(TX.ngram_contamination(tr, ev, "text", "doc_id"))
    b = pairs(TX.ngram_contamination(tr, ev, "text", "doc_id", broadcast_eval=False))
    c = pairs(TX.ngram_contamination_bloom(tr, ev, "text", "doc_id"))
    assert a == b == c and len(a) > 0

    with pytest.raises(ValueError, match="max_eval_grams"):
        TX.ngram_contamination_bloom(tr, ev, "text", "doc_id", max_eval_grams=3)


def test_dsir_persisted_model_matches_in_plan_scoring(spark, tmp_path):
    """Sign-once discipline: scores from the persisted ratio table
    equal dsir_log_weights computed in-plan, and an unseen-gram doc
    scores through the model's default-bucket fallback."""
    from reactionetl_etl_spark.operators.dsir import (
        dsir_log_weights,
        score_with_dsir_model,
        write_dsir_model,
    )

    target = spark.createDataFrame(
        [(100 + i, "the quick brown fox jumps over the lazy dog") for i in range(4)],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox naps beside the lazy dog"),
         (2, "zzz qqq xxx unrelated tokens entirely different words")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "dsir_model")
    write_dsir_model(corpus, target, path)
    model = spark.read.parquet(path)
    probe = {
        r["doc_id"]: (r["n_bigrams"], round(r["log_weight"], 9))
        for r in score_with_dsir_model(corpus, model).collect()
    }
    inplan = {
        r["doc_id"]: (r["n_bigrams"], round(r["log_weight"], 9))
        for r in dsir_log_weights(corpus, target).collect()
    }
    assert probe == inplan

    new = spark.createDataFrame(
        [(9, "wholly novel bigrams never seen anywhere before now")],
        "doc_id long, text string",
    )
    got = score_with_dsir_model(new, model).collect()[0]
    assert got["n_bigrams"] > 0 and got["log_weight"] is not None


def test_triangle_counts_known_graph(spark):
    """Degree-ordered triangle counting on a controlled graph: K4 glued
    to a triangle plus a star hub — every node's triangle count and the
    hub's zero match hand counts; duplicate/reversed/self-loop edges
    are canonicalized away."""
    from reactionetl_etl_spark.operators.graph import triangle_counts

    edges = [
        # K4 on {1,2,3,4}: 4 triangles, each node in 3
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        # extra triangle {4,5,6}
        (4, 5), (5, 6), (6, 4),
        # star hub 100 with leaves (no triangles among them)
        (100, 7), (100, 8), (100, 9), (100, 10),
        # noise: reversed duplicate, exact duplicate, self-loop
        (2, 1), (3, 4), (7, 7),
    ]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {
        r["node"]: (r["degree"], r["n_triangles"])
        for r in triangle_counts(df).collect()
    }
    assert got[1] == (3, 3)
    assert got[2] == (3, 3)
    assert got[3] == (3, 3)
    assert got[4] == (5, 4)  # 3 K4 triangles + {4,5,6}
    assert got[5] == (2, 1)
    assert got[6] == (2, 1)
    assert got[100] == (4, 0)
    for leaf in (7, 8, 9, 10):
        assert got[leaf] == (1, 0)
    # total triangle count: each triangle counted at 3 nodes
    assert sum(t for _, t in got.values()) == 3 * 5


def test_skyline_2d_matches_naive_dominance(spark):
    """Single-sort 2-D skyline equals the O(n^2) dominance definition
    on a point set with duplicate coordinates, same-maximize groups,
    and a dominated diagonal."""
    from reactionetl_etl_spark.operators.relational import skyline_2d

    pts = [
        ("a", 10.0, 0.5),
        ("b", 10.0, 0.3),   # dominates a within the same maximize group
        ("b2", 10.0, 0.3),  # exact duplicate of b: both survive
        ("c", 8.0, 0.2),    # survives: lower max but strictly lower min
        ("d", 8.0, 0.4),    # dominated by b (10 > 8, 0.3 < 0.4)
        ("e", 12.0, 0.9),   # survives: best maximize
        ("f", 7.0, 0.2),    # dominated by c (8 > 7, 0.2 == 0.2)
        ("g", 5.0, 0.1),    # survives: best minimize
    ]
    df = spark.createDataFrame(pts, "id string, score double, cost double")
    got = {r["id"] for r in skyline_2d(df, "score", "cost").collect()}

    naive = {
        i
        for i, s, c in pts
        if not any(
            (s2 >= s and c2 <= c and (s2 > s or c2 < c))
            for _, s2, c2 in pts
        )
    }
    assert got == naive == {"b", "b2", "c", "e", "g"}


def test_rm3_expansion_rescues_cooccurring_doc(spark):
    """RM3 semantics on a controlled corpus: a doc that shares NO
    original query term but uses the feedback docs' co-occurring
    vocabulary enters the expanded ranking; weights interpolate the
    original query so original-term docs still rank."""
    from reactionetl_etl_spark.operators.retrieval import rm3_expand_topk

    docs = spark.createDataFrame(
        [
            (1, "spark cluster engine cluster tuning"),
            (2, "spark cluster sizing cluster notes"),
            (3, "cluster cluster cluster handbook text"),  # no 'spark'
            (4, "gardening tulips soil water sun"),
            (5, "spark plugs for my car engine"),
        ],
        "doc_id int, text string",
    )
    out = rm3_expand_topk(docs, ["spark"], k=5, fb_docs=2, fb_terms=4).collect()
    ids = [r["doc_id"] for r in out]
    assert 3 in ids  # rescued purely via expansion ('cluster')
    assert 4 not in ids  # unrelated doc stays out
    assert set(ids) >= {1, 2}  # original-term docs still present


def test_jaccard_prefix_join_exact_vs_bruteforce(spark):
    """Prefix-filtered similarity join finds EXACTLY the naive
    all-pairs Jaccard >= tau set (no false negatives from the filter,
    no false positives from verification) on a corpus with rare and
    frequent tokens and varied lengths."""
    from reactionetl_etl_spark.operators.dedup import jaccard_prefix_join

    texts = {
        1: "alpha beta gamma delta epsilon",
        2: "alpha beta gamma delta zeta",
        3: "alpha beta gamma delta epsilon",  # dup of 1
        4: "omega psi chi phi upsilon",
        5: "alpha omega psi chi phi upsilon",  # near-dup of 4
        6: "completely different words here now",
        7: "alpha beta",  # short: shares frequent tokens only
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id int, text string")
    tau = 0.6
    got = {
        (r["id_a"], r["id_b"]): r["jaccard4"]
        for r in jaccard_prefix_join(docs, tau=tau).collect()
    }

    def jac(a, b):
        sa, sb = set(texts[a].split()), set(texts[b].split())
        return len(sa & sb) / len(sa | sb)

    ids = sorted(texts)
    naive = {
        (a, b): jac(a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if jac(a, b) >= tau
    }
    assert set(got) == set(naive)
    import math

    for pair, j in naive.items():
        assert got[pair] == math.floor(j * 10_000 + 0.5) / 10_000


def test_jaccard_prefix_join_max_pairs_guard(spark):
    """A degenerate corpus (every doc drawn from a 3-word vocabulary)
    makes the RESULT quadratic; with max_pairs set, the pre-flight
    candidate bound raises instead of silently writing O(n^2) pairs.
    A natural corpus under the same cap passes through unchanged."""
    import pytest

    from reactionetl_etl_spark.operators.dedup import jaccard_prefix_join

    degenerate = spark.createDataFrame(
        [(i, "red green blue") for i in range(60)], "doc_id int, text string"
    )
    with pytest.raises(ValueError, match="candidate-pair upper bound"):
        jaccard_prefix_join(degenerate, tau=0.8, max_pairs=100)

    natural = spark.createDataFrame(
        [(i, f"tok{i}a tok{i}b tok{i}c shared") for i in range(60)],
        "doc_id int, text string",
    )
    # distinct rare prefixes: the bound stays under the cap and the
    # guarded call returns the same rows as the unguarded one
    guarded = jaccard_prefix_join(natural, tau=0.8, max_pairs=100).collect()
    plain = jaccard_prefix_join(natural, tau=0.8).collect()
    assert sorted(map(tuple, guarded)) == sorted(map(tuple, plain))


def test_personalized_pagerank_mass_concentrates_on_seeds(spark):
    """Seeded teleport: ranks measure proximity to the seed set — the
    seed's community out-ranks a far component, total mass stays
    bounded, and numpy agrees with the distributed recurrence."""
    import numpy as np

    from reactionetl_etl_spark.operators.graph import pagerank

    # two disconnected triangles; seed lives in the first
    edge_list = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10)]
    edges = spark.createDataFrame(edge_list, "src int, dst int")
    seeds = spark.createDataFrame([(0,)], "node int")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(edges, n_iter=15, seeds=seeds).collect()
    }
    assert min(got[v] for v in (0, 1, 2)) > max(got[v] for v in (10, 11, 12))
    assert got[10] == got[11] == got[12] == 0.0  # unreachable from the seed

    nodes = sorted({x for e in edge_list for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    adj = np.zeros((n, n))
    for a, b in edge_list:
        adj[idx[a], idx[b]] = adj[idx[b], idx[a]] = 1.0
    deg = adj.sum(axis=1)
    p0 = np.zeros(n)
    p0[idx[0]] = 1.0
    r = p0.copy()
    for _ in range(15):
        r = 0.15 * p0 + 0.85 * (adj / deg[:, None]).T @ r
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-12


def test_personalized_pagerank_rejects_unknown_seeds(spark):
    from reactionetl_etl_spark.operators.graph import pagerank
    import pytest as _pytest

    edges = spark.createDataFrame([(0, 1)], "src int, dst int")
    with _pytest.raises(ValueError, match="no seed node"):
        pagerank(edges, seeds=spark.createDataFrame([(99,)], "node int"))


def test_kendall_tau_matches_bruteforce(spark):
    """Distributed Kendall tau (histogram + bucketed inversion counts)
    equals the O(n^2) discordant-pair definition on random distinct
    permutations, across bucket counts that force multi-bucket and
    single-bucket paths."""
    import random

    from reactionetl_etl_spark.operators.rank import kendall_tau_distinct

    rng = random.Random(7)
    n = 97
    ry = list(range(1, n + 1))
    rng.shuffle(ry)
    rows = [(i + 1, ry[i]) for i in range(n)]
    disc = sum(
        1
        for i in range(n)
        for j in range(i + 1, n)
        if rows[i][1] > rows[j][1]  # rx already ascending
    )
    want_tau = 1.0 - 4.0 * disc / (n * (n - 1.0))
    df = spark.createDataFrame(rows, "rx int, ry int")
    for b in (1, 4, 16, 200):
        got = kendall_tau_distinct(df, "rx", "ry", n_buckets=b).collect()[0]
        assert got["n"] == n
        assert got["n_discordant"] == disc, (b, got["n_discordant"], disc)
        assert abs(got["tau"] - want_tau) < 1e-15


def test_bfs_hops_matches_naive_bfs(spark):
    """bfs_hops equals a textbook python BFS on a hand-built graph with
    a cycle, a long tail past max_hops, and a disconnected island (the
    island must be absent, not at some sentinel distance)."""
    from collections import deque

    from reactionetl_etl_spark.operators.graph import bfs_hops

    edges = [
        (1, 2), (2, 3), (3, 1),        # triangle at the source
        (3, 4), (4, 5), (5, 6), (6, 7),  # tail: 7 is 4 hops out
        (10, 11),                        # disconnected island
    ]
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want, q = {1: 0}, deque([1])
    while q:
        u = q.popleft()
        for v in adj[u]:
            if v not in want and want[u] < 3:
                want[v] = want[u] + 1
                q.append(v)
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: r["hops"] for r in bfs_hops(df, max_hops=3).collect()}
    assert got == want  # source=min(node)=1; 7 and the island excluded
    assert 7 not in got and 10 not in got


def test_kcore_matches_naive_peeling(spark, sf_dir):
    """Non-circular witness for the pinned copurchase_kcore query: the
    distributed peel must agree node-for-node (and degree-for-degree)
    with textbook sequential peeling over the same collected edge set."""
    from reactionetl_etl_spark.plans.catalog import get_query

    lp = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    from pyspark.sql import functions as F

    a, b = lp.alias("a"), lp.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )
    E = {(min(r["pa"], r["pb"]), max(r["pa"], r["pb"])) for r in co.collect()}
    k = 2  # sf0.001's graph is sparse; k=3 would trivially empty it
    while True:
        deg: dict = {}
        for u, v in E:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        E2 = {(u, v) for u, v in E if u in keep and v in keep}
        if len(E2) == len(E):
            break
        E = E2
    want = dict(deg) if E else {}

    from reactionetl_etl_spark.operators.graph import k_core

    got = {
        r["node"]: r["core_degree"]
        for r in k_core(co, k=k, src="pa", dst="pb").collect()
    }
    assert got == want


def test_kcore_empty_core_returns_empty(spark):
    """A graph whose every node has degree < k peels to nothing and the
    operator returns an empty frame rather than looping or raising."""
    from reactionetl_etl_spark.operators.graph import k_core

    chain = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src int, dst int")
    assert k_core(chain, k=3).count() == 0


def test_bellman_ford_matches_naive_dijkstra(spark):
    """bellman_ford_hops == textbook bounded-hop relaxation on a graph
    where the cheapest route is NOT the fewest-hop route (two cheap
    edges beat one expensive one), plus an unreachable island."""
    from reactionetl_etl_spark.operators.graph import bellman_ford_hops

    edges = [
        (1, 2, 10),  # direct but expensive
        (1, 3, 1), (3, 2, 2),  # detour: cost 3 < 10
        (2, 4, 1), (4, 5, 1), (5, 6, 1),  # 6 is 4 hops from... 1-3-2-4-5 = 4 edges to 5
        (8, 9, 1),  # island
    ]
    df = spark.createDataFrame(edges, "src int, dst int, w int")
    got = {r["node"]: r["cost"] for r in bellman_ford_hops(df, max_hops=3).collect()}
    # naive: all paths of <=3 edges from node 1
    adj: dict = {}
    for s, d, w in edges:
        adj.setdefault(s, []).append((d, w))
        adj.setdefault(d, []).append((s, w))
    best = {1: 0}
    frontier = {1: 0}
    for _ in range(3):
        nxt: dict = {}
        for u, cu in frontier.items():
            for v, w in adj[u]:
                c = cu + w
                if c < best.get(v, 1 << 60):
                    best[v] = c
                    nxt[v] = c
        # relaxation also shortens already-known nodes
        frontier = {**{u: best[u] for u in best}, **nxt}
    assert got == best
    assert 8 not in got and 9 not in got
    assert got[2] == 3  # detour beats the direct edge


def test_hits_matches_numpy_power_iteration(spark, sf_dir):
    """The catalog HITS query equals dense numpy h←A·a / a←Aᵀ·h
    simultaneous updates (4 rounds, integer-exact) on the real
    bipartite purchase graph at test scale."""
    import numpy as np

    from reactionetl_etl_spark.plans.catalog import get_query

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey", "o_orderkey"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    e = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
        .collect()
    )
    cs = sorted({r["o_custkey"] for r in e})
    ps = sorted({r["l_partkey"] for r in e})
    ci = {c: i for i, c in enumerate(cs)}
    pi = {p: i for i, p in enumerate(ps)}
    A = np.zeros((len(cs), len(ps)), dtype=np.int64)
    for r in e:
        A[ci[r["o_custkey"]], pi[r["l_partkey"]]] = 1
    h = np.ones(len(cs), dtype=np.int64)
    a = np.ones(len(ps), dtype=np.int64)
    for _ in range(4):
        h, a = A @ a, A.T @ h
    want_h = sorted(zip(-h, cs))[:10]
    want_a = sorted(zip(-a, ps))[:10]

    rows = get_query("purchase_hits_scores").builder(spark, sf_dir).collect()
    got_h = sorted(
        (-r["score"], r["id"]) for r in rows if r["kind"] == "h"
    )
    got_a = sorted(
        (-r["score"], r["id"]) for r in rows if r["kind"] == "a"
    )
    assert got_h == [(s, i) for s, i in want_h]
    assert got_a == [(s, i) for s, i in want_a]


def test_label_propagation_matches_python_witness(spark):
    """Min-label propagation (operators/community.py): k synchronous
    rounds on a fixed graph match a pure-Python recomputation of the
    same recurrence; rounds=0 is the identity labeling; the directed
    flag stops labels flowing against edge direction."""
    from reactionetl_etl_spark.operators.community import label_propagation

    edges = [(10, 7), (7, 3), (3, 12), (20, 21), (21, 22), (30, 30)]
    e = spark.createDataFrame(edges, "src bigint, dst bigint")

    # pure-Python witness: symmetrized, self-loops, k rounds of min
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).update([s, d])
        adj.setdefault(d, set()).update([d, s])
    lab = {v: v for v in adj}
    for k in range(5):
        got = {
            r["node"]: r["community"]
            for r in label_propagation(e, rounds=k).collect()
        }
        assert got == lab, f"round {k}"
        lab = {v: min(lab[u] for u in adj[v]) for v in adj}

    # after enough rounds = connected components: {3,7,10,12} -> 3,
    # {20,21,22} -> 20, {30} -> 30
    conv = {
        r["node"]: r["community"]
        for r in label_propagation(e, rounds=4).collect()
    }
    assert conv == {10: 3, 7: 3, 3: 3, 12: 3, 20: 20, 21: 20, 22: 20, 30: 30}

    # directed: 10 -> 7 lets 7 take min(7,10)=7, but 10 keeps 10 even
    # after many rounds (nothing flows 7 -> 10)
    directed = {
        r["node"]: r["community"]
        for r in label_propagation(e, rounds=4, directed=True).collect()
    }
    assert directed[10] == 10 and directed[12] == 3

    import pytest as _pytest

    with _pytest.raises(ValueError, match="rounds"):
        label_propagation(e, rounds=-1)


def test_holt_linear_fit_witness():
    """Holt's method (operators/forecast.py) with alpha=beta=1/2 and
    the y2-y1 trend init is EXACT on affine series (level tracks the
    line, trend equals the slope, one-step fit is the true next value)
    and collapses to the constant on constant series — the textbook
    invariants, plus the <2-observation contract."""
    import pytest as _pytest

    from reactionetl_etl_spark.operators.forecast import holt_linear_fit

    # affine series: y_t = 100 + 7 t
    ys = [100.0 + 7.0 * t for t in range(40)]
    fit = holt_linear_fit(ys)
    assert len(fit) == 40
    assert fit[0] == (100.0, 7.0, None)
    for t, (level, trend, pred) in enumerate(fit):
        assert level == ys[t]
        assert trend == 7.0
        if t > 0:
            assert pred == ys[t]  # one-step-ahead prediction is exact

    # constant series
    for level, trend, pred in holt_linear_fit([5.0] * 10):
        assert level == 5.0 and trend == 0.0 and pred in (None, 5.0)

    with _pytest.raises(ValueError, match="at least 2"):
        holt_linear_fit([1.0])


def test_r12_curve_invariants(spark, sf_dir):
    """Cross-row invariants of the r12 sweep families — properties the
    pinned/computed oracles can't state (they freeze values, not
    relationships): n-gram coverage is monotone in k; pack truncation
    waste and split-doc count are non-increasing in the budget; the
    cluster-keyed split straddles zero pairs while the doc-keyed split
    audits the SAME pair universe."""
    from reactionetl_etl_spark.plans.catalog import all_queries

    qs = all_queries()
    cov = {r["top_k"]: r for r in qs["ngram_coverage_curve"].builder(spark, sf_dir).collect()}
    assert cov[10]["covered"] <= cov[100]["covered"] <= cov[1000]["covered"]
    assert cov[10]["total_grams"] == cov[1000]["total_grams"]
    assert 0 < cov[1000]["coverage_micro"] <= 1_000_000

    pk = {r["budget"]: r for r in qs["pack_length_tradeoff_curve"].builder(spark, sf_dir).collect()}
    budgets = sorted(pk)
    for a, b in zip(budgets, budgets[1:]):
        assert pk[a]["split_docs"] >= pk[b]["split_docs"]
        assert pk[a]["n_shards"] >= pk[b]["n_shards"]

    leak = {r["method"]: r for r in qs["split_leakage_audit"].builder(spark, sf_dir).collect()}
    assert leak["cluster_key"]["n_straddle"] == 0
    assert leak["cluster_key"]["n_pairs"] == leak["doc_key"]["n_pairs"]


def test_semantic_contamination_ann_invariants(spark, sf_dir):
    """Cross-row invariants of the ANN decontamination report (r13):
    ANN flags are a strict SUBSET of exact flags (the quantized-int
    design makes a probed pair's cosine bit-identical to the exact
    path's, so precision is provably 1.0 — n_hit == n_ann), flag
    counts are non-increasing in tau, and the exact counts agree with
    the exact report's band histogram (both derive the same per-eval
    max-cosine micro values)."""
    from reactionetl_etl_spark.plans.catalog import all_queries

    qs = all_queries()
    rows = {
        r["tau"]: r
        for r in qs["semantic_contamination_ann"].builder(spark, sf_dir).collect()
    }
    taus = sorted(rows)
    for tau in taus:
        r = rows[tau]
        assert r["n_hit"] == r["n_ann"] <= r["n_exact"]
        assert r["precision4"] is None or r["precision4"] == 1.0
    for a, b in zip(taus, taus[1:]):
        assert rows[a]["n_exact"] >= rows[b]["n_exact"]
        assert rows[a]["n_ann"] >= rows[b]["n_ann"]
    # exact side ≡ the exact report: n_exact at tau=0.3 equals the
    # band histogram's mass at band10 >= 3
    bands = qs["semantic_contamination_report"].builder(spark, sf_dir).collect()
    assert rows[0.30]["n_exact"] == sum(
        r["n_eval"] for r in bands if r["band10"] >= 3
    )
    assert rows[0.40]["n_exact"] == sum(
        r["n_eval"] for r in bands if r["band10"] >= 4
    )


def test_contamination_report_cross_checks(spark, sf_dir):
    """The unified report's designed cross-checks (r13): the Bloom row
    equals the exact 4-gram row (the pre-filter is exact-verified, so
    a divergence means the fast path is broken), the semantic row
    re-aggregates the band report, and the split row is the audit's
    doc_key row verbatim."""
    from reactionetl_etl_spark.plans.catalog import all_queries

    qs = all_queries()
    rep = {
        r["method"]: r
        for r in qs["contamination_report"].builder(spark, sf_dir).collect()
    }
    assert set(rep) == {
        "ngram_4gram",
        "ngram_bloom",
        "semantic_band40",
        "split_family_straddle",
    }
    assert rep["ngram_bloom"]["n_flagged"] == rep["ngram_4gram"]["n_flagged"]
    assert rep["ngram_bloom"]["n_universe"] == rep["ngram_4gram"]["n_universe"]
    for r in rep.values():
        assert 0 <= r["n_flagged"] <= r["n_universe"]
    bands = qs["semantic_contamination_report"].builder(spark, sf_dir).collect()
    assert rep["semantic_band40"]["n_flagged"] == sum(
        r["n_eval"] for r in bands if r["band10"] >= 4
    )
    assert rep["semantic_band40"]["n_universe"] == sum(r["n_eval"] for r in bands)
    leak = {
        r["method"]: r
        for r in qs["split_leakage_audit"].builder(spark, sf_dir).collect()
    }
    assert rep["split_family_straddle"]["n_flagged"] == leak["doc_key"]["n_straddle"]
    assert rep["split_family_straddle"]["n_universe"] == leak["doc_key"]["n_pairs"]


def test_semantic_contamination_report_guard(spark, sf_dir):
    """The exact report's broadcast is bounded: an eval side larger
    than max_eval_rows refuses with the ANN escape hatch named instead
    of OOMing the driver mid-broadcast (r12 verdict item)."""
    import pytest as _pytest

    from reactionetl_etl_spark.plans.catalog import all_queries

    fn = all_queries()["semantic_contamination_report"].builder
    with _pytest.raises(ValueError, match="semantic_contamination_ann"):
        fn(spark, sf_dir, max_eval_rows=1)


def test_probe_ivf_broadcast_and_shuffle_paths_agree(spark, tmp_path):
    """probe_ivf_index(broadcast_queries=False) — the unbounded-query
    shape — returns exactly the broadcast path's results."""
    from reactionetl_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    path = str(tmp_path / "ivf_idx")
    cents = S.write_ivf_index(emb, dim=64, path=path, n_cells=8)
    qs = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    vectors = spark.read.parquet(f"{path}/vectors")

    def rows(broadcast):
        return {
            (r["query_id"], r["vec_id"], r["cosine_sim"])
            for r in S.probe_ivf_index(
                qs, vectors, cents, k=5, n_probe=4, broadcast_queries=broadcast
            ).collect()
        }

    bcast, shuf = rows(True), rows(False)
    assert bcast == shuf and bcast


def test_triangle_counts_driver_path_matches_distributed(spark, monkeypatch):
    """r14: triangle_counts gained the bounded small-graph driver path.
    The two paths must return IDENTICAL rows (node, degree,
    n_triangles) — pinned on the known graph plus a pseudo-random
    60-node graph, including duplicate/reversed/self-loop noise."""
    from reactionetl_etl_spark.operators.graph import triangle_counts

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6), (6, 4),
             (100, 7), (100, 8), (100, 9), (100, 10), (2, 1), (3, 4), (7, 7)]
    # deterministic pseudo-random extra graph
    x = 1234567
    for _ in range(300):
        x = (x * 1103515245 + 12345) % (1 << 31)
        a = x % 60
        x = (x * 1103515245 + 12345) % (1 << 31)
        b = x % 60
        edges.append((200 + a, 200 + b))
    df = spark.createDataFrame(edges, "src int, dst int")
    fast = sorted(tuple(r) for r in triangle_counts(df).collect())
    _force_distributed_graph_loops(monkeypatch)
    dist = sorted(tuple(r) for r in triangle_counts(df).collect())
    assert fast == dist and fast


def test_label_propagation_driver_path_matches_distributed(spark, monkeypatch):
    """r15 (ADVICE item): label_propagation's driver fast path vs the
    distributed loop (fast path disabled) — identical labels on the
    witness graph plus a pseudo-random 60-node graph with duplicate/
    reversed/self-loop noise, at several round counts and both
    directed modes. Mirrors the triangle_counts dual-path pin so the
    distributed loop keeps output coverage."""
    from reactionetl_etl_spark.operators.community import label_propagation

    edges = [(10, 7), (7, 3), (3, 12), (20, 21), (21, 22), (30, 30), (7, 10)]
    x = 7654321
    for _ in range(200):
        x = (x * 1103515245 + 12345) % (1 << 31)
        a = x % 60
        x = (x * 1103515245 + 12345) % (1 << 31)
        b = x % 60
        edges.append((100 + a, 100 + b))
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    cases = [(rounds, directed) for rounds in (0, 1, 3) for directed in (False, True)]

    def run_all():
        return {
            (rounds, directed): sorted(
                tuple(r)
                for r in label_propagation(
                    df, rounds=rounds, directed=directed
                ).collect()
            )
            for rounds, directed in cases
        }

    fast = run_all()
    _force_distributed_graph_loops(monkeypatch)
    dist = run_all()
    for case in cases:
        assert fast[case] == dist[case] and fast[case], case


def test_graph_fast_paths_drop_null_endpoints(spark, monkeypatch):
    """r15 (ADVICE item): NULL src/dst edges must not crash the driver
    fast paths (Python <'s TypeError on None); they are dropped, which
    is exactly what the distributed paths' a != b filters do."""
    from reactionetl_etl_spark.operators.community import label_propagation
    from reactionetl_etl_spark.operators.graph import (
        connected_components,
        triangle_counts,
    )

    edges = [(1, 2), (2, 3), (None, 4), (5, None), (None, None), (1, 3)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")

    cc = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert cc == {1: 1, 2: 1, 3: 1}
    tri = {r["node"]: (r["degree"], r["n_triangles"]) for r in triangle_counts(df).collect()}
    assert tri == {1: (2, 1), 2: (2, 1), 3: (2, 1)}
    lp = {r["node"]: r["community"] for r in label_propagation(df, rounds=4).collect()}
    assert lp == {1: 1, 2: 1, 3: 1}

    _force_distributed_graph_loops(monkeypatch)
    cc_dist = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert cc == cc_dist
    tri_dist = {
        r["node"]: (r["degree"], r["n_triangles"])
        for r in triangle_counts(df).collect()
    }
    assert tri == tri_dist
