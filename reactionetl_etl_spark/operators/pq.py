"""Product quantization (PQ) for embedding compression + ANN.

Int8 quantization (`similarity.quantize_embeddings_int8`) buys 4×;
PQ (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011 — public) buys 32× here: split each vector into
``m`` subvectors, k-means each subspace to ``k`` centroids, store only
the per-subspace centroid INDEX — m bytes per vector for k ≤ 256.
Search uses asymmetric distance computation (ADC): per query, a tiny
m×k lookup table of subspace distances is precomputed once, and a
candidate's distance is m table lookups summed — no float vector is
ever touched at scan time.

Spark shape:
  - TRAINING is driver-side numpy Lloyd's on a bounded sample
    (deterministic seed/init) — codebooks are m×k×(dim/m) floats, KBs;
  - ENCODING is one Arrow-batched pass (vectorized argmin per
    subspace), output array<int> codes;
  - SEARCH broadcasts the query batch's lookup tables inside the
    mapInPandas closure (|queries| × m × k floats — batch ANN keeps
    query batches bounded, same contract as `cosine_topk_batch`), scans
    the CODES column only, and top-k reduces per query. Optional exact
    RE-RANK joins the shortlist back to full vectors — the standard
    two-stage: PQ recalls a candidate set cheaply, floats re-order it.

Cosine geometry: vectors are L2-normalized before train/encode, so
ADC's squared-euclidean ranking equals cosine ranking on the sphere
(cos = 1 - d²/2 for unit vectors).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _id_schema(
    queries: DataFrame, query_id_col: str, corpus: DataFrame, id_col: str, *rest: T.StructField
) -> T.StructType:
    """An output schema whose id columns keep the callers' names and
    types (string ids pass through as strings), followed by ``rest``."""
    return T.StructType(
        [
            T.StructField(query_id_col, queries.schema[query_id_col].dataType),
            T.StructField(id_col, corpus.schema[id_col].dataType),
            *rest,
        ]
    )


_ADC_D2 = T.StructField("adc_d2", T.DoubleType())
_APPROX = T.StructField("approx_cosine", T.DoubleType())
_RANK = T.StructField("rank", T.IntegerType())


def _rank_adc(scored: DataFrame, k: int, exclude_self: bool) -> DataFrame:
    """Keep each query's k nearest rows of ``scored`` (query id,
    candidate id, ``adc_d2``), ties broken by ascending candidate id.
    Output: (query id, candidate id, approx_cosine, rank)."""
    qid, vid = scored.columns[:2]
    if exclude_self:
        scored = scored.filter(F.col(qid) != F.col(vid))
    w = Window.partitionBy(qid).orderBy(F.col("adc_d2").asc(), F.col(vid).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("approx_cosine", 1 - F.col("adc_d2") / 2)
        .select(qid, vid, "approx_cosine", "rank")
    )


def _normalize(x):
    import numpy as np

    n = np.linalg.norm(x, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return x / n


def train_pq_codebook(
    df: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    max_sample: int = 4096,
    iters: int = 12,
    seed: int = 42,
) -> list:
    """m × k × (dim/m) codebook, numpy Lloyd's per subspace on a
    bounded deterministic sample (`limit` — pre-sample upstream at
    100 TB). Empty clusters re-seed from the farthest points.

    NULL vectors can't train and would both crash the numpy build and
    hog the sample head (NULL arrays sort FIRST under the deterministic
    orderBy) — excluded via the shared `non_null_vectors` guard."""
    import numpy as np

    from reactionetl_etl_spark.functions.vectors import non_null_vectors

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    # orderBy before limit: partition-order-independent training set —
    # same reasoning as similarity.train_ivf_centroids (codebooks must
    # not depend on the session's split settings).
    rows = (
        non_null_vectors(df, vec_col).select(vec_col).orderBy(vec_col).limit(max_sample).collect()
    )
    x = _normalize(np.array([list(r[0]) for r in rows], dtype=np.float64))
    rng = np.random.default_rng(seed)
    rng.shuffle(x)  # mix the sorted sample (see similarity.train_ivf_centroids)
    books = []
    for s in range(m):
        xs = x[:, s * sub : (s + 1) * sub]
        cents = xs[rng.permutation(len(xs))[:k]].copy()
        for _ in range(iters):
            d = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cents[c] = xs[mask].mean(axis=0)
                else:  # empty cluster: grab the worst-served point
                    cents[c] = xs[d.min(axis=1).argmax()]
        books.append([[float(v) for v in c] for c in cents])
    return books


def pq_encode(
    df: DataFrame,
    codebook: list,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Append ``code_col`` (array<int>, length m): per-subspace nearest
    centroid indices. One vectorized Arrow pass, no shuffle.

    Column-appending transform, so NULL maps to NULL (the quantize
    convention — row counts are preserved, a NULL vector has no code);
    the numpy matrix is built from the non-null subset only."""
    import numpy as np

    books = [np.array(b, dtype=np.float64) for b in codebook]
    m = len(books)
    sub = books[0].shape[1]
    cols = df.columns

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            mask = pdf[vec_col].notna().to_numpy()
            out = [None] * len(pdf)
            if mask.any():
                x = _normalize(
                    np.array(list(pdf[vec_col][mask]), dtype=np.float64)
                )
                codes = np.empty((len(x), m), dtype=np.int32)
                for s in range(m):
                    xs = x[:, s * sub : (s + 1) * sub]
                    d = ((xs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                    codes[:, s] = d.argmin(axis=1)
                for pos, row in zip(np.flatnonzero(mask), codes):
                    out[pos] = list(map(int, row))
            pdf[code_col] = out
            yield pdf

    out_fields = [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
    schema = ", ".join(out_fields + [f"{code_col} array<int>"])
    return df.mapInPandas(encode, schema=schema)


def pq_cosine_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebook: list,
    k: int = 10,
    refine: int | None = 4,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    exclude_self: bool = True,
) -> DataFrame:
    """Batch ANN over PQ codes via ADC. With ``refine`` (default 4),
    the per-query shortlist of k×refine ADC candidates is re-ranked by
    EXACT cosine against the full vectors (one keyed join against the
    shortlist only) — the two-stage layout; ``refine=None`` returns raw
    ADC ranking with ``approx_cosine`` = 1 - d²/2.
    Output: (query_id_col, id_col, cosine_sim|approx_cosine, rank ≤ k);
    both id columns keep the callers' types.
    The query batch is collected to build the ADC tables; one of more
    than `similarity.MAX_QUERY_ROWS` rows is refused before the collect.

    NULL handling (engine convention): a NULL query vector retrieves
    nothing (excluded before the ADC table build, which it would
    crash); corpus rows with a NULL code (NULL vectors pass through
    `pq_encode` as NULL) are never candidates."""
    import numpy as np

    from reactionetl_etl_spark.functions.vectors import non_null_vectors
    from reactionetl_etl_spark.operators.similarity import _bounded_query_rows

    books = [np.array(b, dtype=np.float64) for b in codebook]
    m = len(books)
    sub = books[0].shape[1]
    codes = non_null_vectors(codes, code_col)
    q_rows = _bounded_query_rows(
        non_null_vectors(queries, vec_col).select(query_id_col, vec_col),
        "pq_cosine_topk",
    )
    if not q_rows:
        sim = T.StructField("cosine_sim" if refine is not None else "approx_cosine", T.DoubleType())
        return queries.sparkSession.createDataFrame(
            [], _id_schema(queries, query_id_col, codes, id_col, sim, _RANK)
        )
    qx = _normalize(np.array([list(r[vec_col]) for r in q_rows], dtype=np.float64))
    q_ids = [r[query_id_col] for r in q_rows]
    # per-query ADC tables: (n_q, m, k) squared distances
    tables = np.stack(
        [
            ((qx[:, s * sub : (s + 1) * sub][:, None, :] - books[s][None, :, :]) ** 2).sum(
                axis=2
            )
            for s in range(m)
        ],
        axis=1,
    )

    shortlist_n = k * (refine or 1)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            codes_arr = np.array(list(pdf[code_col]), dtype=np.int64)  # (n, m)
            ids = pdf[id_col].to_numpy()
            # dist[q, i] = sum over s of tables[q, s, codes[i, s]]
            d = np.zeros((len(q_ids), len(ids)), dtype=np.float64)
            for s in range(m):
                d += tables[:, s, :][:, codes_arr[:, s]]
            out_q, out_v, out_d = [], [], []
            for qi, qid in enumerate(q_ids):
                row = d[qi]
                # self is masked BEFORE the cut so it never takes a
                # shortlist slot, and the cut follows the global
                # (adc_d2, vec_id) order, so ties at the boundary do
                # not depend on how rows fall into batches
                cand = np.flatnonzero(ids != qid) if exclude_self else np.arange(len(ids))
                idx = cand[np.lexsort((ids[cand], row[cand]))[:shortlist_n]]
                out_q.extend([qid] * len(idx))
                out_v.extend(ids[idx])
                out_d.extend(row[idx])
            yield pd.DataFrame({query_id_col: out_q, id_col: out_v, "adc_d2": out_d})

    partials = codes.mapInPandas(
        scan, schema=_id_schema(queries, query_id_col, codes, id_col, _ADC_D2)
    )
    if refine is None:
        return _rank_adc(partials, k, exclude_self=False)  # scan masks self
    w = Window.partitionBy(query_id_col).orderBy(F.col("adc_d2").asc(), F.col(id_col).asc())
    shortlist = (
        partials.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= shortlist_n)
        .drop("__r")
    )
    # exact re-rank: join the SHORTLIST (k×refine rows/query) to vectors
    from reactionetl_etl_spark.functions.vectors import cosine_similarity

    qv = queries.select(query_id_col, F.col(vec_col).alias("__qv"))
    cv = codes.select(id_col, F.col(vec_col).alias("__cv"))
    scored = (
        shortlist.join(F.broadcast(qv), query_id_col)
        .join(cv, id_col)
        .withColumn("cosine_sim", F.round(cosine_similarity(F.col("__qv"), F.col("__cv")), 6))
        .drop("__qv", "__cv", "adc_d2")
    )
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )


def write_pq_index(
    embeddings: DataFrame,
    dim: int,
    path: str,
    m: int = 8,
    k: int = 16,
    codebook: list | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> list:
    """Persist the PQ index: CODES ONLY (the memory-bound regime — m
    bytes/vector, the float vectors never land in the index), parquet
    PARTITIONED BY ``pq_cell`` = the subspace-0 centroid index, with
    the codebook as a sidecar (``<path>/codebook``) so later probes and
    appends reuse the index's exact geometry. Returns the codebook.

    The subspace-0 code doubles as a coarse cell (an IVF-PQ-lite: the
    first subvector's quantizer IS a coarse quantizer of the leading
    dim/m dimensions), so `probe_pq_index` prunes partitions the same
    way the LSH/IVF probes do — sign once, probe forever.

    Appends must pass the stored codebook (`read_pq_codebook`) —
    re-training would code new batches with a different geometry than
    the existing partitions, a corrupt index; enforced like
    `similarity.write_ivf_index`. Same sidecar rule too: the codebook
    always OVERWRITES (appends pass the stored one, so it is identical
    — append mode would duplicate its rows).
    """
    if mode == "append" and codebook is None:
        raise ValueError(
            "append requires the index's stored codebook — pass "
            "codebook=read_pq_codebook(spark, path)"
        )
    if codebook is None:
        codebook = train_pq_codebook(embeddings, dim, m=m, k=k, vec_col=vec_col)
    coded = pq_encode(embeddings, codebook, vec_col=vec_col)
    (
        coded.filter(F.col("pq_code").isNotNull())
        .select(id_col, "pq_code", F.element_at("pq_code", 1).alias("pq_cell"))
        .write.mode(mode)
        .partitionBy("pq_cell")
        .parquet(f"{path}/codes")
    )
    spark = embeddings.sparkSession
    # flat rows THROUGH PANDAS: createDataFrame from a Python list —
    # arrays or not — lands on the pickled-RDD path and a parquet
    # write of even 1k rows pays a ~4.5 s Python round-trip PER ACTION
    # (measured r12); the pandas/Arrow path builds a JVM LocalRelation
    # and the same write is ~0.2 s
    sidecar = pd.DataFrame(
        [
            (s, c, j, float(x))
            for s, book in enumerate(codebook)
            for c, cent in enumerate(book)
            for j, x in enumerate(cent)
        ],
        columns=["subspace", "centroid_idx", "dim_idx", "value"],
    )
    spark.createDataFrame(sidecar).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/codebook"
    )
    return codebook


def read_pq_codebook(spark, path: str) -> list:
    """Codebook of a `write_pq_index` layout: m × k × (dim/m), in
    (subspace, centroid_idx, dim_idx) order."""
    rows = (
        spark.read.parquet(f"{path}/codebook")
        .orderBy("subspace", "centroid_idx", "dim_idx")
        .collect()
    )
    books: list[list[list[float]]] = []
    for r in rows:
        while len(books) <= r["subspace"]:
            books.append([])
        book = books[r["subspace"]]
        while len(book) <= r["centroid_idx"]:
            book.append([])
        book[r["centroid_idx"]].append(r["value"])
    return books


def probe_pq_index(
    queries: DataFrame,
    index_codes: DataFrame,
    codebook: list,
    k: int = 10,
    n_probe: int | None = 4,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    broadcast_queries: bool = True,
    max_query_rows: int | None = 100_000,
) -> DataFrame:
    """Batch ANN against a PERSISTED PQ index
    (``spark.read.parquet(f"{path}/codes")`` + `read_pq_codebook`):
    each query explodes to its ``n_probe`` nearest subspace-0 centroids
    and equi-joins the index on ``pq_cell`` — the index's PARTITION
    column, so dynamic partition pruning reads only probed cells —
    then ranks candidates by ADC (m table lookups, the float vectors
    are never read because the index doesn't store them).
    ``n_probe=None`` probes every cell (exact ADC ranking — equals
    `pq_cosine_topk(refine=None)`; the parity test pins this).
    Output: (query_id_col, id_col, approx_cosine, rank ≤ k), ids in
    the callers' types — re-rank by
    joining the shortlist to a full-vector table if exactness matters,
    as `pq_cosine_topk(refine=)` does.

    Two query-side contracts (r14 — the `probe_ivf_index` pattern):

    - ``broadcast_queries=True`` (default, bounded batch): the query
      set is collected to the driver once to build per-query ADC
      tables that ship in the task closure — zero per-candidate float
      traffic. ``max_query_rows`` refuses a corpus-sized query set
      BEFORE the collect can OOM the driver.
    - ``broadcast_queries=False`` (UNBOUNDED query set — the
      decontamination shape): nothing is ever collected. Probe-cell
      selection runs executor-side in one Arrow pass over the query
      frame (same numpy kernel, so cells are IDENTICAL to the bounded
      path — parity-tested), the exploded (query, cell, vector) rows
      meet the index in a hash-partitioned equi-join on the cell —
      NEITHER side broadcasts — and the ADC stage rebuilds each
      query's table from the vector riding the join, grouped per
      Arrow batch. Costs |candidates| × dim of float traffic where
      the bounded path pays none: that is the price of unboundedness,
      not a different answer.
    """
    import numpy as np

    from reactionetl_etl_spark.functions.vectors import non_null_vectors

    books = [np.array(b, dtype=np.float64) for b in codebook]
    m = len(books)
    sub = books[0].shape[1]
    n_cells = books[0].shape[0]
    if n_probe is None:
        n_probe = n_cells
    n_probe = min(n_probe, n_cells)
    if not broadcast_queries:
        return _probe_pq_unbounded(
            queries, index_codes, books, n_probe,
            query_id_col, id_col, vec_col, exclude_self, k,
            cell_join_col="pq_cell", centroids=None,
        )
    q_src = non_null_vectors(queries, vec_col).select(query_id_col, vec_col)
    if max_query_rows is not None:
        q_rows = q_src.limit(max_query_rows + 1).collect()
        if len(q_rows) > max_query_rows:
            raise ValueError(
                f"probe_pq_index query batch exceeds max_query_rows="
                f"{max_query_rows}; the bounded contract collects the batch"
                f" driver-side to build ADC tables — pass"
                f" broadcast_queries=False for corpus-sized query sets"
                f" (cell equi-join, nothing collected)"
            )
    else:
        q_rows = q_src.collect()
    spark = queries.sparkSession
    if not q_rows:
        return spark.createDataFrame(
            [], _id_schema(queries, query_id_col, index_codes, id_col, _APPROX, _RANK)
        )
    qx = _normalize(np.array([list(r[vec_col]) for r in q_rows], dtype=np.float64))
    # query ids of any type, looked up by the query's position
    q_ids = pd.Series([r[query_id_col] for r in q_rows]).to_numpy()
    # per-query ADC tables (n_q, m, k) — subspace 0's row also ranks the
    # probe cells: nearest coarse cells == smallest subspace-0 distances
    tables = np.stack(
        [
            (
                (qx[:, s * sub : (s + 1) * sub][:, None, :] - books[s][None, :, :]) ** 2
            ).sum(axis=2)
            for s in range(m)
        ],
        axis=1,
    )
    # flat (qid, cell) rows through PANDAS — the Arrow path builds a
    # JVM LocalRelation; a Python-list createDataFrame would ride the
    # pickled-RDD path and re-pay its round-trip inside the join (see
    # the sidecar note in write_pq_index)
    probe = pd.DataFrame(
        [
            (qi, int(c))
            for qi in range(len(q_ids))
            for c in np.argsort(tables[qi, 0])[: min(n_probe, n_cells)]
        ],
        columns=["__qi", "__probe_cell"],
    )
    bq = spark.createDataFrame(probe).select(
        F.col("__qi").cast("int").alias("__qi"),
        F.col("__probe_cell").cast("int").alias("__probe_cell"),
    )
    pairs = index_codes.join(
        F.broadcast(bq), on=F.col("pq_cell") == F.col("__probe_cell"), how="inner"
    ).select("__qi", id_col, "pq_code")

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np

        for pdf in batches:
            if not len(pdf):
                continue
            codes_arr = _np.array(list(pdf["pq_code"]), dtype=_np.int64)
            qis = pdf["__qi"].to_numpy()
            d = _np.zeros(len(pdf), dtype=_np.float64)
            # group rows by query so each ADC table gathers once
            for qi in _np.unique(qis):
                sel = qis == qi
                t = tables[qi]
                dd = _np.zeros(sel.sum(), dtype=_np.float64)
                sub_codes = codes_arr[sel]
                for s in range(m):
                    dd += t[s][sub_codes[:, s]]
                d[sel] = dd
            yield pd.DataFrame(
                {query_id_col: q_ids[qis], id_col: pdf[id_col], "adc_d2": d}
            )

    schema = _id_schema(queries, query_id_col, index_codes, id_col, _ADC_D2)
    return _rank_adc(pairs.mapInPandas(adc, schema), k, exclude_self)


def _probe_pq_unbounded(
    queries: DataFrame,
    index_codes: DataFrame,
    books: list,
    n_probe: int,
    query_id_col: str,
    id_col: str,
    vec_col: str,
    exclude_self: bool,
    k: int,
    cell_join_col: str,
    centroids,
) -> DataFrame:
    """Unbounded-query-set probe shared by the PQ-lite and IVF-PQ
    persisted indexes (``broadcast_queries=False``): no collect, no
    broadcast — the `semantic_contamination_ann` /
    `probe_ivf_index(broadcast_queries=False)` shape, ported to ADC
    ranking (r14, the r13 verdict's missing variant).

    Stage 1 (Arrow, one pass over the query frame, no shuffle):
    normalize each query vector and pick its ``n_probe`` probe cells
    with the SAME numpy kernel the bounded path runs driver-side —
    subspace-0 table distances for PQ-lite (``centroids is None``),
    full-vector coarse distances for IVF-PQ — emitting one
    (qid, probe_cell, normalized vector) row per probe.

    Stage 2: hash-partitioned equi-join of the exploded queries
    against the index on its cell partition column. Neither side
    broadcasts; the join key has ≤ n_cells values, so at 100 TB this
    is the same celled-shuffle shape as the IVF unbounded probe (AQE
    skew-split handles hot cells).

    Stage 3 (Arrow): per batch, group candidates by query (and cell,
    for residual codes), rebuild that query's m×k ADC table from the
    vector riding the join — the codebook/centroids are closure
    constants, a few KB — and score codes with the identical gather
    the bounded path uses. Same math on the same inputs → bit-equal
    distances (parity-tested in test_pq.py).
    """
    import numpy as np

    from reactionetl_etl_spark.functions.vectors import (
        as_double_array,
        non_null_vectors,
    )

    m = len(books)
    sub = books[0].shape[1]
    cents = None if centroids is None else np.asarray(centroids, dtype=np.float64)

    q_in = non_null_vectors(queries, vec_col).select(
        F.col(query_id_col).alias("__qid"),
        as_double_array(vec_col).alias("__qv"),
    )
    qid_type = queries.schema[query_id_col].dataType

    def pick_cells(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np

        for pdf in batches:
            if not len(pdf):
                continue
            qx = _normalize(_np.array(list(pdf["__qv"]), dtype=_np.float64))
            if cents is None:
                # PQ-lite: probe cells = nearest subspace-0 centroids
                d0 = ((qx[:, :sub][:, None, :] - books[0][None, :, :]) ** 2).sum(axis=2)
            else:
                d0 = ((qx[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            order = _np.argsort(d0, axis=1)[:, :n_probe]
            qids = pdf["__qid"].to_numpy()
            yield pd.DataFrame(
                {
                    "__qid": _np.repeat(qids, n_probe),
                    "__probe_cell": order.ravel().astype(_np.int32),
                    "__qn": [list(qx[i]) for i in range(len(qx)) for _ in range(n_probe)],
                }
            )

    q_cells = q_in.mapInPandas(
        pick_cells,
        T.StructType(
            [
                T.StructField("__qid", qid_type),
                T.StructField("__probe_cell", T.IntegerType()),
                T.StructField("__qn", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    pairs = index_codes.join(
        q_cells, on=F.col(cell_join_col) == F.col("__probe_cell"), how="inner"
    ).select(
        "__qid",
        F.col(id_col),
        "pq_code",
        F.col(cell_join_col).cast("int").alias("__cell"),
        "__qn",
    )

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np

        for pdf in batches:
            if not len(pdf):
                continue
            codes_arr = _np.array(list(pdf["pq_code"]), dtype=_np.int64)
            qids = pdf["__qid"].to_numpy()
            d = _np.zeros(len(pdf), dtype=_np.float64)
            pdf_r = pdf.reset_index(drop=True)
            grouped = pdf_r.groupby(["__qid", "__cell"]).indices
            for (qid, cell), idx in grouped.items():
                qn = _np.array(pdf_r["__qn"].iloc[idx[0]], dtype=_np.float64)
                resid_q = qn if cents is None else qn - cents[int(cell)]
                t = [
                    (
                        (resid_q[s * sub : (s + 1) * sub][None, :] - books[s]) ** 2
                    ).sum(axis=1)
                    for s in range(m)
                ]
                dd = _np.zeros(len(idx), dtype=_np.float64)
                sub_codes = codes_arr[idx]
                for s in range(m):
                    dd += t[s][sub_codes[:, s]]
                d[idx] = dd
            yield pd.DataFrame(
                {query_id_col: qids, id_col: pdf_r[id_col], "adc_d2": d}
            )

    schema = _id_schema(queries, query_id_col, index_codes, id_col, _ADC_D2)
    return _rank_adc(pairs.mapInPandas(adc, schema), k, exclude_self)


# ---------------------------------------------------------------------------
# IVF-PQ: coarse quantizer over the FULL vector + PQ on the RESIDUAL
# (Jégou et al. 2011 §IV "IVFADC" — the production FAISS architecture).
# The persisted PQ index above is an IVF-PQ-LITE: its coarse cell is the
# subspace-0 code, i.e. a quantizer of the LEADING dim/m dimensions only,
# so cell quality degrades as m grows. The full IVF-PQ cells on the whole
# vector and PQ-codes the residual x - centroid[cell], which is both a
# better partitioner (cells see every dimension) and a finer code (the
# codebook spends its k centroids on the residual's much smaller spread).
# ---------------------------------------------------------------------------


def _lloyd_subspaces(x, m: int, k: int, iters: int, rng) -> list:
    """Per-subspace Lloyd's over an (n, dim) matrix — the inner loop of
    `train_pq_codebook`, shared with the residual trainer. Empty
    clusters re-seed from the worst-served point."""
    import numpy as np

    sub = x.shape[1] // m
    books = []
    for s in range(m):
        xs = x[:, s * sub : (s + 1) * sub]
        cents = xs[rng.permutation(len(xs))[:k]].copy()
        for _ in range(iters):
            d = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cents[c] = xs[mask].mean(axis=0)
                else:
                    cents[c] = xs[d.min(axis=1).argmax()]
        books.append([[float(v) for v in c] for c in cents])
    return books


def train_ivfpq_geometry(
    df: DataFrame,
    dim: int,
    n_cells: int = 16,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    max_sample: int = 4096,
    iters: int = 12,
    seed: int = 42,
) -> tuple[list, list]:
    """(coarse centroids n_cells × dim, residual codebook m × k × dim/m).

    The coarse quantizer IS a PQ codebook with one subspace spanning
    the whole vector (`train_pq_codebook(m=1, k=n_cells)` — same
    bounded deterministic sample, same seed discipline); the residual
    codebook then runs the same Lloyd's per subspace on x − c(x) over
    that sample. Deterministic end to end."""
    import numpy as np

    from reactionetl_etl_spark.functions.vectors import non_null_vectors

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    coarse = train_pq_codebook(
        df, dim, m=1, k=n_cells, vec_col=vec_col,
        max_sample=max_sample, iters=iters, seed=seed,
    )[0]
    rows = (
        non_null_vectors(df, vec_col).select(vec_col).orderBy(vec_col).limit(max_sample).collect()
    )
    x = _normalize(np.array([list(r[0]) for r in rows], dtype=np.float64))
    rng = np.random.default_rng(seed)
    rng.shuffle(x)  # same mix as the coarse trainer: identical sample order
    cents = np.array(coarse, dtype=np.float64)
    assign = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    books = _lloyd_subspaces(x - cents[assign], m, k, iters, rng)
    return [list(map(float, c)) for c in coarse], books


def ivfpq_encode(
    df: DataFrame,
    centroids: list,
    codebook: list,
    vec_col: str = "embedding",
) -> DataFrame:
    """Append ``ivf_cell`` (int — nearest coarse centroid of the
    normalized vector) and ``pq_code`` (array<int>, length m — residual
    codes). One vectorized Arrow pass, no shuffle; NULL vectors map to
    NULL cell/code (column-appending convention, as `pq_encode`)."""
    import numpy as np

    cents = np.array(centroids, dtype=np.float64)
    books = [np.array(b, dtype=np.float64) for b in codebook]
    m = len(books)
    sub = books[0].shape[1]

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            mask = pdf[vec_col].notna().to_numpy()
            cell_out = [None] * len(pdf)
            code_out = [None] * len(pdf)
            if mask.any():
                x = _normalize(np.array(list(pdf[vec_col][mask]), dtype=np.float64))
                cell = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
                r = x - cents[cell]
                codes = np.empty((len(x), m), dtype=np.int32)
                for s in range(m):
                    rs = r[:, s * sub : (s + 1) * sub]
                    d = ((rs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                    codes[:, s] = d.argmin(axis=1)
                for pos, c, row in zip(np.flatnonzero(mask), cell, codes):
                    cell_out[pos] = int(c)
                    code_out[pos] = list(map(int, row))
            pdf["ivf_cell"] = cell_out
            pdf["pq_code"] = code_out
            yield pdf

    out_fields = [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
    schema = ", ".join(out_fields + ["ivf_cell int", "pq_code array<int>"])
    return df.mapInPandas(encode, schema=schema)


def write_ivfpq_index(
    embeddings: DataFrame,
    dim: int,
    path: str,
    n_cells: int = 16,
    m: int = 8,
    k: int = 16,
    centroids: list | None = None,
    codebook: list | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> tuple[list, list]:
    """Persist the IVF-PQ index: CODES ONLY (m bytes/vector — floats
    never land in the index), parquet PARTITIONED BY the full-vector
    coarse cell, with BOTH geometry sidecars — ``<path>/centroids``
    (flat (cell, dim_idx, value), the `write_ivf_index` layout, so
    `similarity.read_ivf_centroids` reads it) and ``<path>/codebook``
    (the `write_pq_index` layout). Returns (centroids, codebook).

    Appends must pass the stored geometry (`read_ivfpq_geometry`) —
    retraining would cell AND code new batches differently from the
    existing partitions; enforced like the IVF and PQ writers. Sidecars
    always overwrite (appends pass the stored geometry, so they are
    identical — append mode would duplicate their rows)."""
    if mode == "append" and (centroids is None or codebook is None):
        raise ValueError(
            "append requires the index's stored geometry — pass "
            "centroids, codebook = read_ivfpq_geometry(spark, path)"
        )
    if centroids is None or codebook is None:
        centroids, codebook = train_ivfpq_geometry(
            embeddings, dim, n_cells=n_cells, m=m, k=k, vec_col=vec_col
        )
    coded = ivfpq_encode(embeddings, centroids, codebook, vec_col=vec_col)
    (
        coded.filter(F.col("pq_code").isNotNull())
        .select(id_col, "pq_code", "ivf_cell")
        .write.mode(mode)
        .partitionBy("ivf_cell")
        .parquet(f"{path}/codes")
    )
    spark = embeddings.sparkSession
    # both sidecars through PANDAS (JVM LocalRelation — see the
    # write_pq_index note on the pickled-RDD path's ~4.5 s round trip)
    cent_rows = pd.DataFrame(
        [(i, j, float(x)) for i, c in enumerate(centroids) for j, x in enumerate(c)],
        columns=["cell", "dim_idx", "value"],
    )
    spark.createDataFrame(cent_rows).select(
        F.col("cell").cast("int").alias("cell"),
        F.col("dim_idx").cast("int").alias("dim_idx"),
        F.col("value").cast("double").alias("value"),
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    book_rows = pd.DataFrame(
        [
            (s, c, j, float(x))
            for s, book in enumerate(codebook)
            for c, cent in enumerate(book)
            for j, x in enumerate(cent)
        ],
        columns=["subspace", "centroid_idx", "dim_idx", "value"],
    )
    spark.createDataFrame(book_rows).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/codebook"
    )
    return centroids, codebook


def read_ivfpq_geometry(spark, path: str) -> tuple[list, list]:
    """(centroids, codebook) of a `write_ivfpq_index` layout — the
    centroid sidecar shares `write_ivf_index`'s format, the codebook
    sidecar `write_pq_index`'s."""
    from reactionetl_etl_spark.operators.similarity import read_ivf_centroids

    return read_ivf_centroids(spark, path), read_pq_codebook(spark, path)


def probe_ivfpq_index(
    queries: DataFrame,
    index_codes: DataFrame,
    centroids: list,
    codebook: list,
    k: int = 10,
    n_probe: int | None = 4,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    broadcast_queries: bool = True,
    max_query_rows: int | None = 100_000,
) -> DataFrame:
    """Batch ANN against a PERSISTED IVF-PQ index
    (``spark.read.parquet(f"{path}/codes")`` + `read_ivfpq_geometry`):
    queries explode to their ``n_probe`` nearest FULL-VECTOR coarse
    cells and equi-join the index on its PARTITION column (dynamic
    partition pruning reads only probed cells), then rank candidates by
    residual ADC — the per-(query, cell) m×k table bakes the cell
    centroid into every entry (t[s][j] = ‖q_s − c_s − book_s[j]‖²), so
    scoring stays m lookups per candidate and the float vectors are
    never read. ``n_probe=None`` probes every cell. Output:
    (query_id_col, id_col, approx_cosine, rank ≤ k), ids in the callers'
    types; re-rank the shortlist
    against a full-vector table if exactness matters.

    Query-side contracts (r14): ``broadcast_queries=True`` is the
    bounded batch (collected once to build ADC tables driver-side;
    ``max_query_rows`` refuses a corpus-sized set before the collect).
    ``broadcast_queries=False`` is the UNBOUNDED shape — probe-cell
    selection and residual ADC both run executor-side and the
    exploded queries meet the index in a hash-partitioned cell
    equi-join, neither side broadcast; see `_probe_pq_unbounded`.
    Both return identical rows (parity-tested)."""
    import numpy as np

    from reactionetl_etl_spark.functions.vectors import non_null_vectors

    cents = np.array(centroids, dtype=np.float64)
    books = [np.array(b, dtype=np.float64) for b in codebook]
    m = len(books)
    sub = books[0].shape[1]
    n_cells = len(cents)
    if n_probe is None:
        n_probe = n_cells
    n_probe = min(n_probe, n_cells)
    if not broadcast_queries:
        return _probe_pq_unbounded(
            queries, index_codes, books, n_probe,
            query_id_col, id_col, vec_col, exclude_self, k,
            cell_join_col="ivf_cell", centroids=cents,
        )
    q_src = non_null_vectors(queries, vec_col).select(query_id_col, vec_col)
    if max_query_rows is not None:
        q_rows = q_src.limit(max_query_rows + 1).collect()
        if len(q_rows) > max_query_rows:
            raise ValueError(
                f"probe_ivfpq_index query batch exceeds max_query_rows="
                f"{max_query_rows}; the bounded contract collects the batch"
                f" driver-side to build residual ADC tables — pass"
                f" broadcast_queries=False for corpus-sized query sets"
                f" (cell equi-join, nothing collected)"
            )
    else:
        q_rows = q_src.collect()
    spark = queries.sparkSession
    if not q_rows:
        return spark.createDataFrame(
            [], _id_schema(queries, query_id_col, index_codes, id_col, _APPROX, _RANK)
        )
    qx = _normalize(np.array([list(r[vec_col]) for r in q_rows], dtype=np.float64))
    # query ids of any type, looked up by the query's position
    q_ids = pd.Series([r[query_id_col] for r in q_rows]).to_numpy()
    coarse_d = ((qx[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    probe_cells = np.argsort(coarse_d, axis=1)[:, :n_probe]
    # per-(query, probed cell) residual ADC tables: m × k lookups each
    tables: dict[tuple[int, int], "np.ndarray"] = {}
    pairs_rows = []
    for qi in range(len(q_ids)):
        for c in probe_cells[qi]:
            resid_q = qx[qi] - cents[c]
            t = np.stack(
                [
                    (
                        (resid_q[s * sub : (s + 1) * sub][None, :] - books[s]) ** 2
                    ).sum(axis=1)
                    for s in range(m)
                ]
            )
            tables[(qi, int(c))] = t
            pairs_rows.append((qi, int(c)))
    probe = pd.DataFrame(pairs_rows, columns=["__qi", "__probe_cell"])
    bq = spark.createDataFrame(probe).select(
        F.col("__qi").cast("int").alias("__qi"),
        F.col("__probe_cell").cast("int").alias("__probe_cell"),
    )
    pairs = index_codes.join(
        F.broadcast(bq), on=F.col("ivf_cell") == F.col("__probe_cell"), how="inner"
    ).select(
        "__qi", F.col(id_col), "pq_code", F.col("ivf_cell").cast("int").alias("__cell")
    )

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np

        for pdf in batches:
            if not len(pdf):
                continue
            codes_arr = _np.array(list(pdf["pq_code"]), dtype=_np.int64)
            qis = pdf["__qi"].to_numpy()
            d = _np.zeros(len(pdf), dtype=_np.float64)
            # group rows by (query, cell) so each ADC table gathers once
            grouped = pdf.reset_index(drop=True).groupby(["__qi", "__cell"]).indices
            for (qi, cell), idx in grouped.items():
                t = tables[(int(qi), int(cell))]
                dd = _np.zeros(len(idx), dtype=_np.float64)
                sub_codes = codes_arr[idx]
                for s in range(m):
                    dd += t[s][sub_codes[:, s]]
                d[idx] = dd
            yield pd.DataFrame(
                {query_id_col: q_ids[qis], id_col: pdf[id_col], "adc_d2": d}
            )

    schema = _id_schema(queries, query_id_col, index_codes, id_col, _ADC_D2)
    return _rank_adc(pairs.mapInPandas(adc, schema), k, exclude_self)
