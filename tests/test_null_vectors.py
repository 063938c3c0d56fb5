"""NULL-embedding semantics, unified (r10 verdict item 3).

Engine convention (`functions/vectors.py:non_null_vectors`):
- search / pair / train paths EXCLUDE NULL vectors — every result on a
  NULL-bearing frame equals the same call on the pre-filtered frame;
- column-appending transforms (quantize, PQ encode, PCA projection)
  map NULL → NULL and preserve row counts.

r10 fixed the exact-ANN collect/Arrow/k-means-training paths; these
tests pin the SWEEP across the remaining consumers: LSH bucket + batch
+ persisted probe, IVF batch + persisted probe, PQ train/encode/probe,
SemDeDup, PCA/Mahalanobis, int8 quantization, and the MNN/near-dup LSH
paths. Each parity test runs the consumer on a dirty frame (clean rows
plus NULL-vector rows) and asserts equality with the clean frame.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _clean(spark, n=12, dim=4, id_col="vec_id"):
    return spark.range(n).select(
        F.col("id").alias(id_col),
        F.array(
            F.sin(F.col("id") * 1.0),
            F.cos(F.col("id") * 2.0),
            F.sin(F.col("id") * 3.0 + 0.5),
            F.lit(0.25),
        ).cast(f"array<double>").alias("embedding"),
    )


def _dirty(spark, clean, id_col="vec_id", null_ids=(99, 100, 101)):
    nulls = spark.createDataFrame(
        [(int(i),) for i in null_ids], f"{id_col} bigint"
    ).withColumn("embedding", F.lit(None).cast("array<double>"))
    return clean.unionByName(nulls)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_lsh_bucket_null_vector_gets_null_bucket(spark):
    from reactionetl_etl_spark.operators.similarity import with_lsh_bucket

    dirty = _dirty(spark, _clean(spark))
    got = {
        r["vec_id"]: r["lsh_bucket"]
        for r in with_lsh_bucket(dirty, dim=4, bits=4).collect()
    }
    assert got[99] is None and got[100] is None
    # real vectors still bucket into [0, 2^bits)
    assert all(
        0 <= b < 16 for i, b in got.items() if i < 99
    ), "clean vectors must keep integer buckets"


def test_lsh_batch_and_single_parity_with_prefiltered(spark):
    from reactionetl_etl_spark.operators.similarity import (
        lsh_cosine_topk,
        lsh_cosine_topk_batch,
    )

    clean = _clean(spark)
    dirty = _dirty(spark, clean)
    q_clean = clean.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    # query side carries a NULL vector too: it must retrieve nothing
    q_dirty = _dirty(spark, q_clean, id_col="query_id", null_ids=(500,))
    got = lsh_cosine_topk_batch(q_dirty, dirty, dim=4, k=3, bits=4)
    want = lsh_cosine_topk_batch(q_clean, clean, dim=4, k=3, bits=4)
    assert _rows(got) == _rows(want)
    assert _rows(lsh_cosine_topk(dirty, query_id=3, dim=4, k=3, bits=4)) == _rows(
        lsh_cosine_topk(clean, query_id=3, dim=4, k=3, bits=4)
    )


def test_persisted_lsh_index_drops_null_vectors(spark, tmp_path):
    from reactionetl_etl_spark.operators.similarity import (
        probe_lsh_index,
        write_lsh_index,
    )

    clean = _clean(spark)
    path = str(tmp_path / "lsh_dirty")
    write_lsh_index(_dirty(spark, clean), dim=4, path=path, bits=4)
    index = spark.read.parquet(path)
    assert index.filter(F.col("vec_id") >= 99).count() == 0
    path2 = str(tmp_path / "lsh_clean")
    write_lsh_index(clean, dim=4, path=path2, bits=4)
    q = clean.limit(3).select(F.col("query_id").alias("query_id"), "embedding") \
        if "query_id" in clean.columns else clean.limit(3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
    got = probe_lsh_index(q, index, dim=4, k=3, bits=4)
    want = probe_lsh_index(q, spark.read.parquet(path2), dim=4, k=3, bits=4)
    assert _rows(got) == _rows(want)


def test_ivf_batch_and_persisted_probe_parity(spark, tmp_path):
    from reactionetl_etl_spark.operators.similarity import (
        ivf_cosine_topk_batch,
        probe_ivf_index,
        read_ivf_centroids,
        write_ivf_index,
    )

    clean = _clean(spark, n=16)
    dirty = _dirty(spark, clean)
    q_clean = clean.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    q_dirty = _dirty(spark, q_clean, id_col="query_id", null_ids=(500,))
    got = ivf_cosine_topk_batch(q_dirty, dirty, dim=4, k=3, n_cells=4, n_probe=2)
    want = ivf_cosine_topk_batch(q_clean, clean, dim=4, k=3, n_cells=4, n_probe=2)
    assert _rows(got) == _rows(want)

    path = str(tmp_path / "ivf_dirty")
    write_ivf_index(dirty, dim=4, path=path, n_cells=4)
    vectors = spark.read.parquet(f"{path}/vectors")
    assert vectors.filter(F.col("vec_id") >= 99).count() == 0
    cents = read_ivf_centroids(spark, path)
    got = probe_ivf_index(q_dirty, vectors, cents, k=3, n_probe=2)
    path2 = str(tmp_path / "ivf_clean")
    write_ivf_index(clean, dim=4, path=path2, n_cells=4)
    want = probe_ivf_index(
        q_clean,
        spark.read.parquet(f"{path2}/vectors"),
        read_ivf_centroids(spark, path2),
        k=3,
        n_probe=2,
    )
    assert _rows(got) == _rows(want)


def test_pq_train_encode_probe_null_semantics(spark):
    from reactionetl_etl_spark.operators.pq import (
        pq_cosine_topk,
        pq_encode,
        train_pq_codebook,
    )

    clean = _clean(spark, n=16)
    dirty = _dirty(spark, clean)
    book_dirty = train_pq_codebook(dirty, dim=4, m=2, k=4)
    book_clean = train_pq_codebook(clean, dim=4, m=2, k=4)
    assert book_dirty == book_clean, "NULLs must not perturb the training sample"

    # encode: column-appending → row count preserved, NULL → NULL code
    enc = pq_encode(dirty, book_clean)
    assert enc.count() == dirty.count()
    by_id = {r["vec_id"]: r["pq_code"] for r in enc.collect()}
    assert by_id[99] is None and by_id[100] is None
    assert all(by_id[i] is not None for i in range(16))

    q_clean = clean.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    q_dirty = _dirty(spark, q_clean, id_col="query_id", null_ids=(500,))
    got = pq_cosine_topk(q_dirty, enc, book_clean, k=3)
    want = pq_cosine_topk(q_clean, pq_encode(clean, book_clean), book_clean, k=3)
    assert _rows(got) == _rows(want)

    # an all-NULL query batch retrieves nothing instead of crashing
    q_null = spark.createDataFrame([(1,)], "query_id bigint").withColumn(
        "embedding", F.lit(None).cast("array<double>")
    )
    assert pq_cosine_topk(q_null, enc, book_clean, k=3).count() == 0


def test_semantic_dedup_null_rows_survive_with_null_verdict(spark):
    from reactionetl_etl_spark.operators.semdedup import semantic_dedup

    clean = _clean(spark, n=16)
    # two exact duplicates so a real dup group exists
    dup = clean.filter(F.col("vec_id") == 3).select(
        (F.col("vec_id") + 200).alias("vec_id"), "embedding"
    )
    clean = clean.unionByName(dup)
    # ≥2 NULL rows: the old code grouped them into one NULL cell whose
    # numpy gram build crashed on np.asarray(None)
    dirty = _dirty(spark, clean)
    got = semantic_dedup(dirty, dim=4, n_cells=4, threshold=0.999)
    want = semantic_dedup(clean, dim=4, n_cells=4, threshold=0.999)
    got_nonnull = got.filter(~F.col("vec_id").isin(99, 100, 101))
    assert _rows(got_nonnull) == _rows(want)
    null_verdicts = got.filter(F.col("vec_id").isin(99, 100, 101)).collect()
    assert len(null_verdicts) == 3
    for r in null_verdicts:
        assert r["keep"] is True
        assert r["cell"] is None and r["centroid_sim"] is None and r["component"] is None
    assert got.count() == dirty.count(), "verdict frame must preserve row count"


def test_pca_fit_parity_and_null_projection(spark):
    from reactionetl_etl_spark.operators.linalg import (
        fit_pca,
        mahalanobis_exprs,
        pca_project,
    )

    clean = _clean(spark, n=20)
    dirty = _dirty(spark, clean)
    m_clean = fit_pca(clean, "embedding", dim=4, k=2)
    m_dirty = fit_pca(dirty, "embedding", dim=4, k=2)
    assert m_clean == m_dirty, "NULL vectors must not enter the Gram pass"

    proj = pca_project(dirty, "embedding", m_clean)
    by_id = {r["vec_id"]: (r["pc1"], r["pc2"]) for r in proj.collect()}
    assert by_id[99] == (None, None), "projection maps NULL -> NULL"
    maha, resid = mahalanobis_exprs("embedding", m_clean)
    scored = dirty.select("vec_id", maha.alias("m"), resid.alias("r"))
    row99 = scored.filter(F.col("vec_id") == 99).first()
    assert row99["m"] is None and row99["r"] is None


def test_quantize_dequantize_null_to_null(spark):
    from reactionetl_etl_spark.operators.similarity import (
        dequantize_embeddings_int8,
        quantize_embeddings_int8,
    )

    dirty = _dirty(spark, _clean(spark))
    q = quantize_embeddings_int8(dirty)
    assert q.count() == dirty.count()
    by_id = {r["vec_id"]: (r["qvec"], r["qscale"]) for r in q.collect()}
    assert by_id[99] == (None, None)
    assert by_id[0][0] is not None
    dq = dequantize_embeddings_int8(q)
    by_id = {r["vec_id"]: r["embedding_dq"] for r in dq.collect()}
    assert by_id[99] is None and by_id[0] is not None


def test_single_query_topk_skips_null_corpus_rows(spark):
    from reactionetl_etl_spark.operators.similarity import cosine_topk

    # 3 real corpus rows + 3 NULLs, k=5: the old plan padded the top-k
    # with (id, NULL) rows once the scorable corpus ran out
    clean = _clean(spark, n=4)
    dirty = _dirty(spark, clean)
    got = cosine_topk(dirty, query_id=0, k=5)
    assert _rows(got) == _rows(cosine_topk(clean, query_id=0, k=5))
    assert all(r["cosine_sim"] is not None for r in got.collect())


def test_batch_topk_null_query_retrieves_nothing(spark):
    from reactionetl_etl_spark.operators.similarity import cosine_topk_batch

    clean = _clean(spark)
    q = _dirty(
        spark,
        clean.limit(2).select(F.col("vec_id").alias("query_id"), "embedding"),
        id_col="query_id",
        null_ids=(500,),
    )
    out = cosine_topk_batch(q, clean, k=3)
    assert out.filter(F.col("query_id") == 500).count() == 0
    assert out.filter(F.col("query_id") != 500).count() == 6


def test_batch_topk_null_ids_take_no_part(spark):
    """A corpus row with a NULL id is never a candidate, and a query
    with a NULL id retrieves nothing — with real vectors on both, and
    ids above 2^53, which a NULL-widened float64 id column would round
    (so self-exclusion would mask real neighbours)."""
    from reactionetl_etl_spark.functions.vectors import as_double_array
    from reactionetl_etl_spark.operators.similarity import (
        _score_and_topk,
        cosine_topk_batch,
    )

    base = 2**60 + 1
    corpus = (
        _clean(spark, n=20)
        .withColumn(
            "vec_id",
            F.when(~F.col("vec_id").isin(5, 7, 12), F.col("vec_id") + F.lit(base)),
        )
        .coalesce(1)
    )
    queries = corpus.filter(
        F.col("vec_id").isin(base, base + 1, base + 2) | F.col("vec_id").isNull()
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    got = cosine_topk_batch(queries, corpus, k=3)

    q = queries.where(F.col("query_id").isNotNull()).select(
        F.col("query_id").alias("__qid"), as_double_array("embedding").alias("__q")
    )
    want = _score_and_topk(
        corpus.where(F.col("vec_id").isNotNull()).crossJoin(F.broadcast(q)),
        3, "query_id", "vec_id", "embedding", exclude_self=True,
    )
    assert _rows(got) == _rows(want)
    rows = got.collect()
    assert len(rows) == 3 * 3
    assert {r["query_id"] for r in rows} == {base, base + 1, base + 2}
    assert all(r["vec_id"] is not None and r["vec_id"] != r["query_id"] for r in rows)


def test_mnn_and_neardup_lsh_paths_parity(spark):
    from reactionetl_etl_spark.operators.similarity import (
        cosine_neardup_pairs,
        mutual_nearest_pairs,
    )

    clean = _clean(spark)
    dirty = _dirty(spark, clean)
    assert _rows(mutual_nearest_pairs(dirty, lsh_dim=4, lsh_bits=2)) == _rows(
        mutual_nearest_pairs(clean, lsh_dim=4, lsh_bits=2)
    )
    assert _rows(
        cosine_neardup_pairs(dirty, threshold=0.8, lsh_dim=4, lsh_bits=2)
    ) == _rows(cosine_neardup_pairs(clean, threshold=0.8, lsh_dim=4, lsh_bits=2))
