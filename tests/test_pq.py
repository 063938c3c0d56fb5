"""Product quantization: codes, compression, ADC recall, determinism."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from reactionetl_etl_spark.operators.pq import (
    pq_cosine_topk,
    pq_encode,
    train_pq_codebook,
)


def _fixture(spark, n=400, dim=32, seed=9):
    rng = np.random.default_rng(seed)
    # clustered data so PQ has structure to exploit
    centers = rng.normal(0, 1, (8, dim))
    rows = []
    for i in range(n):
        v = centers[i % 8] + rng.normal(0, 0.3, dim)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), rows


def test_pq_codebook_and_codes_shape(spark):
    df, _ = _fixture(spark)
    book = train_pq_codebook(df, dim=32, m=8, k=16)
    assert len(book) == 8 and len(book[0]) == 16 and len(book[0][0]) == 4
    codes = pq_encode(df, book).collect()
    assert all(len(r["pq_code"]) == 8 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r["pq_code"])
    # determinism: same sample, same seed → same codebook
    assert train_pq_codebook(df, dim=32, m=8, k=16) == book


def test_pq_topk_recall_with_rerank(spark):
    df, rows = _fixture(spark)
    book = train_pq_codebook(df, dim=32, m=8, k=16)
    coded = pq_encode(df, book).localCheckpoint(eager=True)
    qs = spark.createDataFrame(
        [(r[0], r[1]) for r in rows[:6]], "query_id long, embedding array<double>"
    )
    got = pq_cosine_topk(qs, coded, book, k=5, refine=8)
    by_q: dict = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))

    # exact ground truth
    x = np.array([r[1] for r in rows])
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    hits = total = 0
    for qid in range(6):
        sims = xn @ xn[qid]
        sims[qid] = -2
        truth = set(np.argsort(-sims)[:5])
        pred = {v for _, v in by_q[qid]}
        assert len(pred) == 5
        hits += len(truth & pred)
        total += 5
    assert hits / total >= 0.8, hits / total  # two-stage recall@5 (refine=8)

    # raw ADC (no re-rank) still returns k well-formed rows per query
    raw = pq_cosine_topk(qs, coded, book, k=5, refine=None)
    counts = {r["query_id"]: 1 for r in raw.collect()}
    assert raw.count() == 30 and len(counts) == 6
    assert "approx_cosine" in raw.columns


def test_pq_raw_topk_one_batch_follows_global_adc_order(spark):
    """With the whole corpus in one Arrow batch the per-batch cut is
    the shortlist itself: self must not take one of its k slots, and
    the cut must follow (adc_d2, vec_id) order, ties included — the
    result equals a numpy ADC brute force over the whole corpus."""
    df, rows = _fixture(spark)
    book = train_pq_codebook(df, dim=32, m=8, k=16)
    coded = pq_encode(df, book).localCheckpoint(eager=True)
    codes = np.array([r["pq_code"] for r in coded.orderBy("vec_id").collect()])
    qs = spark.createDataFrame(
        [(r[0], r[1]) for r in rows[:6]], "query_id long, embedding array<double>"
    )
    got = pq_cosine_topk(qs, coded.coalesce(1), book, k=5, refine=None)
    by_q: dict = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))

    books = [np.array(b) for b in book]
    ids = np.array([r[0] for r in rows])
    for qid in range(6):
        q = np.array(rows[qid][1])
        q = q / np.linalg.norm(q)
        d2 = np.zeros(len(ids))
        for s, b in enumerate(books):
            d2 += ((q[s * 4 : (s + 1) * 4][None, :] - b) ** 2).sum(axis=1)[codes[:, s]]
        keep = ids != qid
        want = ids[keep][np.lexsort((ids[keep], d2[keep]))][:5]
        assert [v for _, v in sorted(by_q[qid])] == want.tolist(), qid


def test_pq_rejects_bad_dims(spark):
    df, _ = _fixture(spark)
    try:
        train_pq_codebook(df, dim=32, m=5, k=8)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_pq_index_probe_full_matches_inplan_adc(spark, tmp_path):
    """probe_pq_index(n_probe=None) over a persisted index must equal
    pq_cosine_topk(refine=None) on the same data — the probe≡in-plan
    parity contract the LSH/IVF indexes carry."""
    from reactionetl_etl_spark.operators.pq import (
        probe_pq_index,
        read_pq_codebook,
        write_pq_index,
    )

    df, rows = _fixture(spark)
    path = str(tmp_path / "pq_idx")
    book = write_pq_index(df, dim=32, path=path, m=8, k=16)
    assert read_pq_codebook(spark, path) == book

    qs = spark.createDataFrame(
        [(r[0], r[1]) for r in rows[:6]], "query_id long, embedding array<double>"
    )
    index = spark.read.parquet(f"{path}/codes")
    got = probe_pq_index(qs, index, book, k=5, n_probe=None)
    coded = pq_encode(df, book)
    want = pq_cosine_topk(qs, coded, book, k=5, refine=None)
    g = sorted(map(tuple, got.collect()))
    w_ = sorted(
        map(tuple, want.select("query_id", "vec_id", "approx_cosine", "rank").collect())
    )
    assert g == w_


def test_pq_index_partition_pruned_probe(spark, tmp_path):
    """A bounded-n_probe probe only considers candidates from the
    queries' probed pq_cells, and still returns k ranked rows/query."""
    from reactionetl_etl_spark.operators.pq import probe_pq_index, write_pq_index

    df, rows = _fixture(spark)
    path = str(tmp_path / "pq_idx")
    book = write_pq_index(df, dim=32, path=path, m=8, k=16)
    qs = spark.createDataFrame(
        [(r[0], r[1]) for r in rows[:4]], "query_id long, embedding array<double>"
    )
    index = spark.read.parquet(f"{path}/codes")
    got = probe_pq_index(qs, index, book, k=5, n_probe=4).collect()
    assert {r["query_id"] for r in got} == {0, 1, 2, 3}
    assert all(1 <= r["rank"] <= 5 for r in got)
    # every candidate's subspace-0 cell is one of its query's probed cells
    codes = {
        r["vec_id"]: r["pq_code"][0]
        for r in pq_encode(df, book).select("vec_id", "pq_code").collect()
    }
    import numpy as np

    books = [np.array(b) for b in book]
    x = np.array([r[1] for r in rows[:4]], dtype=np.float64)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    for r in got:
        q0 = xn[r["query_id"]][:4]
        d0 = ((q0[None, :] - books[0]) ** 2).sum(axis=1)
        probed = set(np.argsort(d0)[:4])
        assert codes[r["vec_id"]] in probed


def test_pq_index_append_requires_codebook_and_stays_consistent(spark, tmp_path):
    """Append without the stored codebook raises; append WITH it codes
    the new batch identically to a one-shot build with that codebook."""
    import pytest

    from reactionetl_etl_spark.operators.pq import (
        probe_pq_index,
        read_pq_codebook,
        write_pq_index,
    )

    df, rows = _fixture(spark)
    half1 = df.filter(F.col("vec_id") < 200)
    half2 = df.filter(F.col("vec_id") >= 200)
    path = str(tmp_path / "pq_idx")
    book = write_pq_index(half1, dim=32, path=path, m=8, k=16)
    with pytest.raises(ValueError, match="stored codebook"):
        write_pq_index(half2, dim=32, path=path, mode="append")
    write_pq_index(
        half2, dim=32, path=path, codebook=read_pq_codebook(spark, path), mode="append"
    )
    # one-shot build of the union with the SAME codebook at another path
    path2 = str(tmp_path / "pq_idx2")
    write_pq_index(df, dim=32, path=path2, codebook=book)
    qs = spark.createDataFrame(
        [(r[0], r[1]) for r in rows[:4]], "query_id long, embedding array<double>"
    )
    a = probe_pq_index(qs, spark.read.parquet(f"{path}/codes"), book, k=5, n_probe=None)
    b = probe_pq_index(qs, spark.read.parquet(f"{path2}/codes"), book, k=5, n_probe=None)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_pq_index_probe_prunes_partitions(spark, tmp_path):
    """The PQ probe must touch only the pq_cell partitions the queries'
    subspace-0 distances select — the executed plan carries dynamic-
    pruning/partition filters on pq_cell rather than scanning all k
    cells (the same contract as the LSH/IVF probes)."""
    from reactionetl_etl_spark.operators.pq import probe_pq_index, write_pq_index

    df, rows = _fixture(spark)
    path = str(tmp_path / "pq_prune")
    book = write_pq_index(df, dim=32, path=path, m=8, k=16)
    qs = spark.createDataFrame(
        [(rows[0][0], rows[0][1])], "query_id long, embedding array<double>"
    )
    out = probe_pq_index(qs, spark.read.parquet(f"{path}/codes"), book, k=5, n_probe=2)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower() or "PartitionFilters: [" in plan


def test_ivfpq_probe_matches_numpy_reference(spark, tmp_path):
    """probe_ivfpq_index ≡ a straight-line numpy IVFADC: encode every
    vector (normalize → full-vector coarse cell → residual codes),
    score probed-cell candidates with per-(query, cell) residual ADC
    tables, top-k by (distance, id). Exact to 6 dp — the Spark path
    computes the same float64 ops in the same order."""
    from reactionetl_etl_spark.operators.pq import (
        probe_ivfpq_index,
        read_ivfpq_geometry,
        write_ivfpq_index,
        _normalize,
    )

    df, rows = _fixture(spark, n=300, dim=32)
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(df, dim=32, path=path, n_cells=8, m=8, k=16)
    cents, book = read_ivfpq_geometry(spark, path)
    qs = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["approx_cosine"], 6))
        for r in probe_ivfpq_index(
            qs, spark.read.parquet(f"{path}/codes"), cents, book, k=5, n_probe=3
        ).collect()
    }

    # numpy reference
    cents_a = np.array(cents)
    books_a = [np.array(b) for b in book]
    m, sub = len(books_a), books_a[0].shape[1]
    x = _normalize(np.array([r[1] for r in rows], dtype=np.float64))
    ids = np.array([r[0] for r in rows])
    cell = ((x[:, None, :] - cents_a[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    resid = x - cents_a[cell]
    codes = np.stack(
        [
            ((resid[:, s * sub:(s + 1) * sub][:, None, :] - books_a[s][None, :, :]) ** 2)
            .sum(axis=2).argmin(axis=1)
            for s in range(m)
        ],
        axis=1,
    )
    want = {}
    for qi in range(5):
        q = x[ids == qi][0]
        probe = np.argsort(((q[None, :] - cents_a) ** 2).sum(axis=1))[:3]
        cand = []
        for c in probe:
            sel = np.flatnonzero(cell == c)
            rq = q - cents_a[c]
            t = np.stack(
                [((rq[s * sub:(s + 1) * sub][None, :] - books_a[s]) ** 2).sum(axis=1)
                 for s in range(m)]
            )
            for i in sel:
                if ids[i] == qi:
                    continue  # exclude_self
                d = sum(t[s][codes[i, s]] for s in range(m))
                cand.append((d, int(ids[i])))
        cand.sort()
        for rank, (d, vid) in enumerate(cand[:5], start=1):
            want[(qi, rank)] = (vid, round(1 - d / 2, 6))
    assert got == want


def test_ivfpq_append_requires_geometry_and_stays_consistent(spark, tmp_path):
    from reactionetl_etl_spark.operators.pq import (
        probe_ivfpq_index,
        read_ivfpq_geometry,
        write_ivfpq_index,
    )
    import pytest

    df, _ = _fixture(spark, n=300, dim=32)
    first = df.filter(F.col("vec_id") % 2 == 0)
    second = df.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivfpq")
    cents, book = write_ivfpq_index(first, dim=32, path=path, n_cells=8, m=8, k=16)
    with pytest.raises(ValueError, match="stored geometry"):
        write_ivfpq_index(second, dim=32, path=path, mode="append")
    stored = read_ivfpq_geometry(spark, path)
    write_ivfpq_index(
        second, dim=32, path=path, centroids=stored[0], codebook=stored[1],
        mode="append",
    )
    # geometry unchanged by the append; the index now holds every id
    assert read_ivfpq_geometry(spark, path) == stored
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.count() == 300
    qs = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = probe_ivfpq_index(qs, codes, stored[0], stored[1], k=5, n_probe=8)
    assert out.count() == 15


def test_ivfpq_probe_prunes_partitions(spark, tmp_path):
    """The probe join must dynamic-partition-prune the codes scan, as
    the LSH/IVF/PQ probes do."""
    from reactionetl_etl_spark.operators.pq import (
        probe_ivfpq_index,
        read_ivfpq_geometry,
        write_ivfpq_index,
    )

    df, _ = _fixture(spark, n=300, dim=32)
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(df, dim=32, path=path, n_cells=8, m=8, k=16)
    cents, book = read_ivfpq_geometry(spark, path)
    qs = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = probe_ivfpq_index(
        qs, spark.read.parquet(f"{path}/codes"), cents, book, k=5, n_probe=2
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower() or "PartitionFilters: [" in plan


def test_ivfpq_beats_pqlite_recall_at_equal_probe_budget(spark):
    """The reason IVF-PQ exists: cells on the FULL vector + residual
    codes recall strictly more than the subspace-0-cell PQ-lite at the
    same probe budget on the shipped fixture (measured 0.285 vs 0.215
    at n_probe=4/16, sf0.01; floor pinned below the measurement)."""
    import tempfile

    from reactionetl_etl_spark.operators.pq import (
        probe_ivfpq_index,
        probe_pq_index,
        write_ivfpq_index,
        write_pq_index,
    )
    from reactionetl_etl_spark.operators.similarity import cosine_topk_batch
    from reactionetl_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    qs = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_batch(qs, emb, k=10).collect()
    }
    w1, w2 = tempfile.mkdtemp(), tempfile.mkdtemp()
    book = write_pq_index(emb, dim=64, path=w1, m=8, k=16)
    lite = {
        (r["query_id"], r["vec_id"])
        for r in probe_pq_index(
            qs, spark.read.parquet(f"{w1}/codes"), book, k=10, n_probe=4
        ).collect()
    }
    cents, rbook = write_ivfpq_index(emb, dim=64, path=w2, n_cells=16, m=8, k=16)
    full = {
        (r["query_id"], r["vec_id"])
        for r in probe_ivfpq_index(
            qs, spark.read.parquet(f"{w2}/codes"), cents, rbook, k=10, n_probe=4
        ).collect()
    }
    r_lite = len(lite & exact) / len(exact)
    r_full = len(full & exact) / len(exact)
    assert r_full > r_lite
    assert r_full >= 0.25  # measured 0.285; slack for fixture evolution


# ---------------------------------------------------------------------------
# unbounded-query-set probes (r14 — broadcast_queries=False ported from the
# IVF tier; the r13 verdict's missing variant)
# ---------------------------------------------------------------------------


def test_pq_probe_unbounded_matches_bounded(spark, tmp_path):
    """broadcast_queries=False must return exactly the bounded path's
    rows: same probe cells (same numpy kernel, executor-side), same
    ADC distances (same gather math on the same normalized inputs)."""
    from reactionetl_etl_spark.operators.pq import probe_pq_index, write_pq_index

    df, rows = _fixture(spark)
    path = str(tmp_path / "pq_idx")
    book = write_pq_index(df, dim=32, path=path, m=8, k=16)
    qs = spark.createDataFrame(
        [(r[0], r[1]) for r in rows[:7]], "query_id long, embedding array<double>"
    )
    index = spark.read.parquet(f"{path}/codes")
    for n_probe in (4, None):
        bounded = sorted(
            map(tuple, probe_pq_index(qs, index, book, k=5, n_probe=n_probe).collect())
        )
        unbounded_df = probe_pq_index(
            qs, index, book, k=5, n_probe=n_probe, broadcast_queries=False
        )
        unbounded = sorted(map(tuple, unbounded_df.collect()))
        assert bounded == unbounded, f"n_probe={n_probe}"
    # the unbounded join is keyed on the cell — never a cartesian
    plan = unbounded_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_ivfpq_probe_unbounded_matches_bounded(spark, tmp_path):
    from reactionetl_etl_spark.operators.pq import (
        probe_ivfpq_index,
        read_ivfpq_geometry,
        write_ivfpq_index,
    )

    df, rows = _fixture(spark, n=300, dim=32)
    path = str(tmp_path / "ivfpq_idx")
    write_ivfpq_index(df, dim=32, path=path, n_cells=8, m=8, k=16)
    cents, book = read_ivfpq_geometry(spark, path)
    qs = spark.createDataFrame(
        [(r[0], r[1]) for r in rows[:7]], "query_id long, embedding array<double>"
    )
    index = spark.read.parquet(f"{path}/codes")
    for n_probe in (3, None):
        bounded = sorted(
            map(
                tuple,
                probe_ivfpq_index(qs, index, cents, book, k=5, n_probe=n_probe).collect(),
            )
        )
        unbounded_df = probe_ivfpq_index(
            qs, index, cents, book, k=5, n_probe=n_probe, broadcast_queries=False
        )
        unbounded = sorted(map(tuple, unbounded_df.collect()))
        assert bounded == unbounded, f"n_probe={n_probe}"
    plan = unbounded_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_pq_probes_max_query_rows_refusal_and_escape_hatch(spark, tmp_path):
    """The bounded contract refuses a query set beyond max_query_rows
    BEFORE collecting it, naming broadcast_queries=False — and that
    escape hatch actually handles the same oversized set."""
    import pytest

    from reactionetl_etl_spark.operators.pq import (
        probe_ivfpq_index,
        probe_pq_index,
        read_ivfpq_geometry,
        write_ivfpq_index,
        write_pq_index,
    )

    df, rows = _fixture(spark, n=120, dim=32)
    pq_path = str(tmp_path / "pq_idx")
    book = write_pq_index(df, dim=32, path=pq_path, m=8, k=16)
    ivf_path = str(tmp_path / "ivfpq_idx")
    write_ivfpq_index(df, dim=32, path=ivf_path, n_cells=4, m=8, k=16)
    cents, rbook = read_ivfpq_geometry(spark, ivf_path)

    qs = df.select(F.col("vec_id").alias("query_id"), "embedding")  # 120 > 50
    pq_index = spark.read.parquet(f"{pq_path}/codes")
    ivf_index = spark.read.parquet(f"{ivf_path}/codes")
    with pytest.raises(ValueError, match="broadcast_queries=False"):
        probe_pq_index(qs, pq_index, book, k=3, max_query_rows=50)
    with pytest.raises(ValueError, match="broadcast_queries=False"):
        probe_ivfpq_index(qs, ivf_index, cents, rbook, k=3, max_query_rows=50)
    out = probe_ivfpq_index(
        qs, ivf_index, cents, rbook, k=3, n_probe=2, broadcast_queries=False
    )
    pdf = out.toPandas()
    assert set(pdf["query_id"]) == set(range(120))
    assert (pdf.groupby("query_id").size() == 3).all()


def test_pq_cosine_topk_refuses_query_batch_over_bound(spark, monkeypatch):
    """pq_cosine_topk collects its query batch to build the ADC tables;
    a batch above `similarity.MAX_QUERY_ROWS` is refused by the bounded
    probe, while a batch at the bound still runs."""
    import pytest

    from reactionetl_etl_spark.operators import similarity

    df, rows = _fixture(spark, n=40, dim=32)
    book = train_pq_codebook(df, dim=32, m=8, k=16)
    coded = pq_encode(df, book)
    qs = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    monkeypatch.setattr(similarity, "MAX_QUERY_ROWS", 2)
    with pytest.raises(ValueError, match="MAX_QUERY_ROWS=2"):
        pq_cosine_topk(qs, coded, book, k=3)
    at_bound = pq_cosine_topk(qs.filter(F.col("query_id") < 2), coded, book, k=3)
    assert at_bound.count() == 2 * 3


def test_pq_string_ids_match_long_ids(spark, tmp_path):
    """String ids under the callers' own column names give the rows the
    long ids give: every PQ scorer's schema takes the callers' id names
    and types, query id first on every branch. The ids are zero-padded,
    so string and numeric order agree and the id tie-break picks the
    same rows."""
    from reactionetl_etl_spark.operators.pq import (
        probe_ivfpq_index,
        probe_pq_index,
        write_ivfpq_index,
        write_pq_index,
    )

    df, rows = _fixture(spark, n=200)
    sdf = df.select(F.format_string("doc-%04d", "vec_id").alias("doc_id"), "embedding")
    qs = spark.createDataFrame(
        [(r[0], r[1]) for r in rows[:5]], "query_id long, embedding array<double>"
    )
    sqs = qs.select(F.format_string("doc-%04d", "query_id").alias("qid"), "embedding")
    names = {"query_id_col": "qid", "id_col": "doc_id"}

    def check(got, want):
        assert got.dtypes[:2] == [("qid", "string"), ("doc_id", "string")]
        assert want.columns == ["query_id", "vec_id", *got.columns[2:]]
        g = sorted(map(tuple, got.collect()))
        w = sorted((f"doc-{r[0]:04d}", f"doc-{r[1]:04d}", *r[2:]) for r in want.collect())
        assert g and g == w

    book = train_pq_codebook(df, dim=32, m=8, k=16)
    coded, scoded = pq_encode(df, book), pq_encode(sdf, book)
    for refine in (8, None):
        check(
            pq_cosine_topk(sqs, scoded, book, k=5, refine=refine, **names),
            pq_cosine_topk(qs, coded, book, k=5, refine=refine),
        )
    empty = pq_cosine_topk(sqs.limit(0), scoded, book, k=5, **names)
    assert empty.count() == 0
    assert empty.dtypes == [("qid", "string"), ("doc_id", "string"), ("cosine_sim", "double"), ("rank", "int")]

    write_pq_index(df, dim=32, path=str(tmp_path / "pq"), m=8, k=16, codebook=book)
    write_pq_index(sdf, dim=32, path=str(tmp_path / "pq_s"), m=8, k=16, codebook=book, id_col="doc_id")
    index, sindex = (spark.read.parquet(str(tmp_path / p / "codes")) for p in ("pq", "pq_s"))
    for bq in (True, False):
        check(
            probe_pq_index(sqs, sindex, book, k=5, n_probe=4, broadcast_queries=bq, **names),
            probe_pq_index(qs, index, book, k=5, n_probe=4, broadcast_queries=bq),
        )

    cents, ivf_book = write_ivfpq_index(df, dim=32, path=str(tmp_path / "ivf"), n_cells=8, m=8, k=16)
    write_ivfpq_index(
        sdf, dim=32, path=str(tmp_path / "ivf_s"), n_cells=8, m=8, k=16,
        centroids=cents, codebook=ivf_book, id_col="doc_id",
    )
    index, sindex = (spark.read.parquet(str(tmp_path / p / "codes")) for p in ("ivf", "ivf_s"))
    for bq in (True, False):
        check(
            probe_ivfpq_index(sqs, sindex, cents, ivf_book, k=5, n_probe=4, broadcast_queries=bq, **names),
            probe_ivfpq_index(qs, index, cents, ivf_book, k=5, n_probe=4, broadcast_queries=bq),
        )
