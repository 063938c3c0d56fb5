"""Quality classifier (operators/classifier.py): partitioning-invariant
training, persisted-model parity, class-balance guard, and held-out
separation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reactionetl_etl_spark.operators.classifier import (
    read_classifier_model,
    score_text,
    score_with_classifier_model,
    train_text_classifier,
    write_classifier_model,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def labels(docs):
    # any token-derived 0/1 target works for the mechanics under test
    norm = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    uq = F.size(F.array_distinct(norm)).cast("double") / F.greatest(
        F.size(norm), F.lit(1)
    )
    return docs.select("doc_id", (uq >= 0.3).cast("int").alias("y"))


@pytest.fixture(scope="module")
def model(docs, labels):
    return train_text_classifier(docs, labels, n_buckets=32, iters=4, lr=8.0)


def test_training_partitioning_invariant(docs, labels, model):
    """Decimal gradient folds are exact and order-independent, so a
    different partition layout yields the bit-identical model — the
    property that keeps the pinned oracles stable between local[32]
    and the driver's session."""
    again = train_text_classifier(
        docs.repartition(11), labels, n_buckets=32, iters=4, lr=8.0
    )
    assert model == again


def test_model_moves_scores_toward_labels(docs, labels, model):
    scored = score_text(docs, model).join(labels, on="doc_id")
    row = scored.agg(
        F.avg(F.when(F.col("y") == 1, F.col("score"))).alias("pos"),
        F.avg(F.when(F.col("y") == 0, F.col("score"))).alias("neg"),
    ).first()
    assert row["pos"] > row["neg"]


def test_persisted_model_roundtrip(spark, docs, model, tmp_path):
    path = str(tmp_path / "clf_model")
    write_classifier_model(model, path, spark)
    assert read_classifier_model(path, spark) == model
    direct = {r["doc_id"]: r["score"] for r in score_text(docs, model).collect()}
    via_disk = {
        r["doc_id"]: r["score"]
        for r in score_with_classifier_model(docs, path).collect()
    }
    assert direct == via_disk


def test_balanced_requires_both_classes(docs):
    one_class = docs.select("doc_id", F.lit(1).alias("y"))
    with pytest.raises(ValueError, match="both classes"):
        train_text_classifier(docs, one_class, n_buckets=8, iters=1)


def test_bias_only_doc_scores_defined(spark, model):
    """A doc whose tokens all hash to zero-weight buckets still gets a
    finite score (the bias feature rides on every doc)."""
    df = spark.createDataFrame([(1, "qqqqzz wwkkjj")], "doc_id long, text string")
    out = score_text(df, model).collect()
    assert len(out) == 1 and 0.0 < out[0]["score"] < 1.0


def test_stream_scoring_matches_batch(spark, docs, labels, model, tmp_path):
    """Streaming foreachBatch scoring with the persisted model must
    equal batch scoring row-for-row (stream ≡ batch, the suite-wide
    parity convention)."""
    from reactionetl_etl_spark.streaming.sinks import (
        classifier_score_batch_writer,
        start_sink,
    )

    model_path = str(tmp_path / "model")
    src = str(tmp_path / "src")
    scores = str(tmp_path / "scores")
    ckpt = str(tmp_path / "ckpt")
    write_classifier_model(model, model_path, spark)
    docs.select("doc_id", "text").write.parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = start_sink(stream, classifier_score_batch_writer(model_path, scores), ckpt)
    q.awaitTermination()

    streamed = {
        r["doc_id"]: r["score"] for r in spark.read.parquet(scores).collect()
    }
    batch = {r["doc_id"]: r["score"] for r in score_text(docs, model).collect()}
    assert streamed == batch
