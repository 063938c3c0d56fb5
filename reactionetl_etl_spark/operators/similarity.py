"""Similarity search over embedding columns (array<float>).

Two paths:
- brute-force cosine top-k: exact; one scan, no shuffle for a single
  query (query vector broadcast). This is the correctness baseline and
  the right choice when queries are few and the corpus scan is
  amortized.
- random-hyperplane LSH top-k: approximate; hashes every vector into
  sign-pattern buckets once, then searches only same-bucket candidates.
  At 100 TB the bucketed table is the reusable index: build cost is one
  scan, each query touches ~1/2^bits of the data.

The single-query and approximate paths score with Catalyst
higher-order functions (`functions/vectors.py`) — JVM-side, no Python.
The exact batch path (`cosine_topk_batch`) scores in one Arrow
`mapInPandas` stage with numpy matmuls, and the guarded exact
all-pairs paths run driver BLAS over a bounded collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reactionetl_etl_spark.functions.vectors import (
    as_double_array,
    cosine_similarity,
    dot,
    lit_double_array,
)

# Row bound of a query batch collected to ride a task closure
# (`cosine_topk_batch`, `pq.pq_cosine_topk`): the bounded probe
# `limit(MAX_QUERY_ROWS + 1).collect()` refuses a larger batch before it
# reaches the driver.
MAX_QUERY_ROWS = 100_000

# Hard ceiling for the driver-collect exact paths. A row bound alone
# under-guards wide embeddings: 100k rows × 1024-dim float64 ≈ 800 MB
# of driver heap before numpy even copies it. 256 MB keeps the gram
# workspace comfortably inside a default driver.
MAX_EXACT_COLLECT_BYTES = 256 * 1024 * 1024


def _guard_exact_collect(
    embeddings: DataFrame,
    vec_col: str,
    max_exact_rows: int | None,
    what: str,
) -> int:
    """Bound a driver-collect exact path; returns the row count.

    Raises when the row bound is exceeded, when the estimated collected
    bytes (rows × dim × 8, one count/max-size agg) exceed
    ``MAX_EXACT_COLLECT_BYTES``, or when the bound is disabled
    (``max_exact_rows=None``). Before the driver-BLAS rewrite, None
    meant "stay distributed"; now the exact path always collects, so an
    explicit opt-out would be an unbounded driver OOM — callers at that
    scale want the LSH path (``lsh_dim=...``)."""
    if max_exact_rows is None:
        raise ValueError(
            f"{what}: max_exact_rows=None would collect the input to the "
            "driver unboundedly; set a bound or use the LSH path "
            "(lsh_dim=...) at scale"
        )
    n, dim = embeddings.select(
        F.count(F.lit(1)), F.max(F.size(F.col(vec_col)))
    ).first()
    if n > max_exact_rows:
        raise ValueError(
            f"{what} over {n} rows exceeds max_exact_rows={max_exact_rows}; "
            "use the LSH path (lsh_dim=...) at this scale"
        )
    est_bytes = n * int(dim or 0) * 8
    if est_bytes > MAX_EXACT_COLLECT_BYTES:
        raise ValueError(
            f"{what}: collecting {n} rows × {dim}-dim float64 ≈ "
            f"{est_bytes / 1e6:.0f} MB exceeds the "
            f"{MAX_EXACT_COLLECT_BYTES / 1e6:.0f} MB driver ceiling; "
            "use the LSH path (lsh_dim=...) at this scale"
        )
    return int(n)


def cosine_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to the vector with ``query_id``.

    The 1-row query side is broadcast; the corpus side is a single
    parallel scan + TakeOrderedAndProject (per-partition heaps, k-row
    driver merge) — no global sort, no wide shuffle.

    NULL corpus vectors are excluded (`non_null_vectors`): they score
    NULL, which sorts after every real similarity but would still pad
    the top-k with (id, NULL) rows when the corpus holds fewer than k
    scorable vectors — the batch paths already exclude them, and the
    single-query path must agree.
    """
    from reactionetl_etl_spark.functions.vectors import non_null_vectors

    q = embeddings.filter(F.col(id_col) == query_id).select(
        as_double_array(vec_col).alias("__q")
    )
    corpus = non_null_vectors(
        embeddings.filter(F.col(id_col) != query_id), vec_col
    )
    sim = cosine_similarity(as_double_array(vec_col), F.col("__q"))
    return (
        corpus.join(F.broadcast(q))
        .select(F.col(id_col), F.round(sim, 6).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _hyperplanes(dim: int, bits: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (fixed LCG, no RNG state):
    identical across runs/executors, which makes the LSH index stable
    and incrementally appendable."""
    x = 88172645463325252
    planes = []
    for _ in range(bits):
        row = []
        for _ in range(dim):
            # xorshift64
            x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
            x ^= x >> 7
            x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
            row.append(((x % 2_000_001) / 1_000_000.0) - 1.0)
        planes.append(row)
    return planes


def with_lsh_bucket(
    embeddings: DataFrame,
    dim: int,
    bits: int = 8,
    vec_col: str = "embedding",
    out_col: str = "lsh_bucket",
) -> DataFrame:
    """Append a random-hyperplane LSH bucket id (int, 0..2^bits-1).

    Vectors with the same sign pattern against ``bits`` fixed
    hyperplanes land in the same bucket; cosine-similar vectors collide
    with probability (1 - θ/π)^bits. Pure expression — at scale, write
    the result partitioned by bucket and ANN queries become partition
    -pruned scans.

    A NULL vector gets a NULL bucket (its dot products are NULL, which
    the when/otherwise fold used to misread as sign 0 on every plane —
    silently piling every NULL row into bucket 0). NULL buckets fall
    out of every downstream bucket equi-join, so LSH consumers inherit
    the engine-wide "NULL scores nothing" convention for free.
    """
    v = as_double_array(vec_col)
    bit_cols = []
    for i, plane in enumerate(_hyperplanes(dim, bits)):
        plane_col = lit_double_array(plane)
        bit_cols.append(F.when(dot(v, plane_col) > 0.0, F.lit(1 << i)).otherwise(F.lit(0)))
    bucket = bit_cols[0]
    for c in bit_cols[1:]:
        bucket = bucket + c
    return embeddings.withColumn(
        out_col, F.when(F.col(vec_col).isNotNull(), bucket)
    )


def _probe_buckets(bucket_col, bits: int, multi_probe: bool, probe_radius: int = 1):
    """Bucket ids a query should probe: its exact bucket, plus — with
    ``multi_probe`` — every bucket within Hamming distance
    ``probe_radius`` (sign-bit flips), sum_{r<=radius} C(bits, r)
    probes total. A vector near a hyperplane lands on either side of
    it with ~equal probability, so low-distance buckets hold most of
    the neighbours single-probe misses; this is standard multi-probe
    LSH, done as a pure array expression (probe ids are all distinct,
    so the downstream equi-join never duplicates a pair).

    Scan-fraction math: recall trades against the fraction of the
    2^bits buckets probed — radius 1 at bits=16 probes 17/65536
    partitions (~0.03%), radius 2 probes 137 (~0.2%). At the tiny
    test scale (bits=4) the same radii are 5/16 and 11/16 — high
    recall there necessarily means a large scan fraction; production
    indexes pick bits so the probed fraction stays small."""
    if not multi_probe:
        return F.array(bucket_col)
    from itertools import combinations

    cols = [bucket_col]
    for r in range(1, probe_radius + 1):
        for combo in combinations(range(bits), r):
            mask = 0
            for i in combo:
                mask |= 1 << i
            cols.append(bucket_col.bitwiseXOR(F.lit(mask)))
    return F.array(*cols)


def _coarse_centroids(dim: int, n_cells: int) -> list[list[float]]:
    """Deterministic pseudo-random unit-ish centroids (same xorshift
    stream as the hyperplanes): the untrained fallback when no sample
    is available to fit k-means on. Prefer train_ivf_centroids."""
    x = 2463534242
    cells = []
    for _ in range(n_cells):
        row = []
        for _ in range(dim):
            x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
            x ^= x >> 7
            x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
            row.append(((x % 2_000_001) / 1_000_000.0) - 1.0)
        cells.append(row)
    return cells


def train_ivf_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_sample: int = 100_000,
    max_iter: int = 20,
    restarts: int = 4,
) -> list[list[float]]:
    """Fit spherical k-means centroids for IVF coarse quantization:
    driver-side numpy Lloyd's on a bounded deterministic sample — the
    same training discipline as the PQ codebooks (`operators/pq.py`),
    and for the same reason: training reads at most ``max_sample``
    vectors (one collect-bounded job; at 100 TB pass a pre-sampled
    frame), so the iteration belongs on dense BLAS, not on a
    many-job ML pipeline whose per-pass scheduling dwarfs the math at
    sample scale (measured: ~2.5 s of fixed Spark ML overhead vs
    ~20 ms of numpy for 2 000×64).

    Vectors are L2-normalized, assignment is max-dot (== cosine on
    unit vectors), the centroid update renormalizes the member mean —
    textbook spherical k-means, so the learned cells partition by
    DIRECTION. Empty cells reseed from the worst-served point.
    Deterministic: seeded init, fixed iteration count.
    """
    import numpy as np

    # orderBy before limit: a bare limit collects rows in partition
    # order, which varies with session split settings — the sampled
    # TRAINING SET (and so the centroids, cells, and every probe
    # result) must be identical under any executor layout. Arrays sort
    # lexicographically; TakeOrdered keeps this one bounded job.
    from reactionetl_etl_spark.functions.vectors import non_null_vectors

    rows = (
        non_null_vectors(embeddings, vec_col)  # NULL can't train
        .select(vec_col)
        .orderBy(vec_col)
        .limit(max_sample)
        .collect()
    )
    x = np.array([list(r[0]) for r in rows], dtype=np.float64)
    if x.shape[0] < n_cells:
        raise ValueError(f"sample of {x.shape[0]} rows < n_cells={n_cells}")
    # seeded re-shuffle: k-means++ seeding degrades on lexicographically
    # sorted input (adjacent rows are near-identical); a deterministic
    # permutation restores the mixing without reintroducing
    # partition-order dependence
    np.random.default_rng(seed).shuffle(x)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    x = x / norms
    # k-means++ seeding (spherical distance 1 - cos) and best-inertia-
    # of-``restarts`` selection: on weakly-clustered corpora a single
    # seeded run lands ~2 cells' worth of probe recall worse (measured
    # on the sf0.01 fixture: 7/10 → 9/10 at n_probe=6); restarts are
    # numpy-cheap and keep the result deterministic (derived seeds)
    best_cents, best_inertia = None, None
    for r in range(max(1, restarts)):
        rng = np.random.default_rng(seed + r * 1000)
        cents = np.empty((n_cells, x.shape[1]))
        cents[0] = x[int(rng.integers(len(x)))]
        d2 = np.maximum(1.0 - x @ cents[0], 0.0) ** 2
        for c in range(1, n_cells):
            probs = d2 / d2.sum() if d2.sum() > 0 else np.full(len(x), 1.0 / len(x))
            cents[c] = x[int(rng.choice(len(x), p=probs))]
            d2 = np.minimum(d2, np.maximum(1.0 - x @ cents[c], 0.0) ** 2)
        for _ in range(max_iter):
            sims = x @ cents.T
            assign = sims.argmax(axis=1)
            best = sims.max(axis=1)
            for c in range(n_cells):
                mask = assign == c
                if mask.any():
                    m = x[mask].mean(axis=0)
                    cents[c] = m / (np.linalg.norm(m) or 1.0)
                else:
                    cents[c] = x[best.argmin()]
        inertia = float((1.0 - (x @ cents.T).max(axis=1)).sum())
        if best_inertia is None or inertia < best_inertia:
            best_inertia, best_cents = inertia, cents.copy()
    return [[float(v) for v in c] for c in best_cents]


def with_ivf_cell(
    embeddings: DataFrame,
    dim: int,
    n_cells: int = 16,
    vec_col: str = "embedding",
    out_col: str = "ivf_cell",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style coarse quantization: assign each vector to its
    nearest (max dot product) centroid — trained k-means cells when
    ``centroids`` is given (train_ivf_centroids), else the fixed
    pseudo-random fallback.

    At scale the celled table is the inverted index: write it
    partitioned by cell and a query probes only its own cell's
    partition (plus neighbors for recall) — the IVF analogue of the
    LSH bucket path, with cell sizes that track the data distribution.
    """
    cents = centroids if centroids is not None else _coarse_centroids(dim, n_cells)
    v = as_double_array(vec_col)
    # argmax as array ops: a when-chain fold would nest each step's
    # expression inside the next TWICE (value + otherwise) — 2^n blowup
    scores = F.array(*[dot(v, lit_double_array(c)) for c in cents])
    cell = F.array_position(scores, F.array_max(scores)) - 1
    return embeddings.withColumn(out_col, cell.cast("int"))


def ivf_cosine_topk(
    embeddings: DataFrame,
    query_id: int,
    dim: int,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    train: bool = True,
) -> DataFrame:
    """Approximate top-k restricted to the query's ``n_probe`` nearest
    IVF cells (multi-probe: single-cell recall suffers exactly when the
    query sits near a cell boundary, which is the common case in high
    dimensions — probing the next-nearest cells recovers it for
    n_probe/n_cells of the scan cost).

    Centroids: explicit ``centroids`` > trained k-means on the corpus
    (``train=True``, deterministic seed) > fixed pseudo-random fallback.
    """
    if centroids is None and train:
        centroids = train_ivf_centroids(embeddings, n_cells, vec_col)
    celled = with_ivf_cell(embeddings, dim, n_cells, vec_col, centroids=centroids)
    cents = centroids if centroids is not None else _coarse_centroids(dim, n_cells)
    qv = as_double_array(vec_col)
    cell_scores = F.array(*[dot(qv, lit_double_array(c)) for c in cents])
    # top-n_probe cell ids for the query, as an array column
    probe_cells = F.expr(
        f"transform(slice(array_sort(zip_with(c_scores, sequence(0, {len(cents) - 1}),"
        f" (s, i) -> named_struct('s', -s, 'i', i))), 1, {n_probe}), x -> x.i)"
    )
    # a NULL query vector retrieves nothing: its cell scores are an
    # array OF NULLs (not a NULL array), so without the filter the sort
    # still yields real probe cells and the result is k all-NULL-sim rows
    from reactionetl_etl_spark.functions.vectors import non_null_vectors

    q = (
        non_null_vectors(embeddings.filter(F.col(id_col) == query_id), vec_col)
        .select(qv.alias("__q"), cell_scores.alias("c_scores"))
        .select("__q", probe_cells.alias("__qcells"))
    )
    cand = celled.filter(F.col(id_col) != query_id).join(
        F.broadcast(q), on=F.expr("array_contains(__qcells, ivf_cell)"), how="inner"
    )
    sim = cosine_similarity(as_double_array(vec_col), F.col("__q"))
    return (
        cand.select(F.col(id_col), F.round(sim, 6).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _score_and_topk(
    pairs: DataFrame,
    k: int,
    query_id_col: str,
    id_col: str,
    vec_col: str,
    exclude_self: bool,
) -> DataFrame:
    """Shared tail of the LSH, IVF and index-probe ANN paths: score
    candidate (corpus row × __qid/__q) pairs with exact cosine and keep
    each query's top-k by rounded similarity, ties by ascending id. The
    rank filter plans as WindowGroupLimit — each map task emits only
    its local top-k per query before the exchange."""
    from pyspark.sql import Window

    if exclude_self:
        pairs = pairs.filter(F.col(id_col) != F.col("__qid"))
    sim = cosine_similarity(as_double_array(vec_col), F.col("__q"))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        pairs.select(
            F.col("__qid").alias(query_id_col),
            F.col(id_col),
            F.round(sim, 6).alias("cosine_sim"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def cosine_topk_batch(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k neighbours for EVERY row of ``queries`` in one job.

    The single-query entry points (`cosine_topk` etc.) re-scan the
    corpus per call; a real similarity-search job scores a whole batch
    of query vectors per pass. This is that pass: the query batch
    (at most ``MAX_QUERY_ROWS`` rows) is collected once and rides the
    task closure of one Arrow scorer stage over the corpus
    (`_exact_topk_arrow`), so the corpus never shuffles for a join.
    Each Arrow batch keeps only its local top-k per query, and a
    `row_number()` over `Window.partitionBy(query_id)` — planned as
    WindowGroupLimit — finishes the rank over those survivors.

    Output: (query_id, id_col, cosine_sim), k rows per query, ties
    broken by ascending id; both id columns keep the caller's types.
    ``exclude_self`` drops corpus rows whose id equals the query id
    (the single-query semantics). A NULL id or a NULL vector, on
    either side, takes no part: such a query retrieves nothing and
    such a corpus row is never a candidate.
    """
    from reactionetl_etl_spark.functions.vectors import non_null_vectors

    qv = query_vec_col or vec_col
    # a NULL vector would crash the scorer's matrix build, and a NULL id
    # turns Arrow's integer id column into float64 (NaN, rounding above
    # 2^53) — both take no part, on either side
    q = non_null_vectors(
        queries.select(
            F.col(query_id_col).alias("__qid"), as_double_array(qv).alias("__q")
        ),
        "__q",
    ).filter(F.col("__qid").isNotNull())
    corpus = non_null_vectors(corpus, vec_col).filter(F.col(id_col).isNotNull())
    return _exact_topk_arrow(corpus, q, k, query_id_col, id_col, vec_col, exclude_self)


def _bounded_query_rows(q: DataFrame, what: str) -> list:
    """Collect a query batch that rides a task closure, refusing one of
    more than ``MAX_QUERY_ROWS`` rows before it reaches the driver."""
    rows = q.limit(MAX_QUERY_ROWS + 1).collect()
    if len(rows) > MAX_QUERY_ROWS:
        raise ValueError(
            f"{what}: query batch exceeds MAX_QUERY_ROWS={MAX_QUERY_ROWS}; "
            "bound the batch or use the LSH/IVF paths at this scale"
        )
    return rows


def _exact_topk_arrow(
    corpus: DataFrame,
    q: DataFrame,
    k: int,
    query_id_col: str,
    id_col: str,
    vec_col: str,
    exclude_self: bool,
) -> DataFrame:
    """Arrow scorer for the exact batch path: the query matrix rides in
    the task closure, each corpus Arrow batch scores against ALL queries
    as ONE numpy matmul and emits only its LOCAL top-k per query, then
    a WindowGroupLimit rank finishes over the k·|queries|·|batches|
    survivors. Versus the interpreted HOF fold (`_score_and_topk` over
    a crossJoin) this measured ~7x on the LOO k-NN shape (PERF_NOTES
    r9). Rounding before the rank is the same 6-dp half-away-from-zero
    key `F.round` gives, so results are rank-identical except at
    sub-ulp cosine ties — which the id tie-break then settles
    identically.

    Ids pass through as the values Arrow hands over (numpy ints, or
    objects for strings, decimals and dates); `np.lexsort` orders those
    the way Spark orders the column. Both inputs hold no NULL id and no
    NULL vector (`cosine_topk_batch` filters them)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql import types as T

    q_rows = _bounded_query_rows(q, "cosine_topk_batch")
    spark = corpus.sparkSession
    out_schema = T.StructType(
        [
            T.StructField(query_id_col, q.schema["__qid"].dataType),
            T.StructField(id_col, corpus.schema[id_col].dataType),
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )
    if not q_rows:
        return spark.createDataFrame([], out_schema)
    qids = [r[0] for r in q_rows]
    qmat = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)

    def score(batches):
        for pdf in batches:
            ids = pdf["__id"].to_numpy()
            mat = np.array([list(v) for v in pdf["__v"]], dtype=np.float64)
            cnorm = np.linalg.norm(mat, axis=1)
            den = cnorm[:, None] * qnorm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(den == 0.0, 0.0, (mat @ qmat.T) / den)
            c6 = (
                np.where(cos >= 0, np.floor(cos * 1e6 + 0.5), np.ceil(cos * 1e6 - 0.5))
                / 1e6
            )
            out = {query_id_col: [], id_col: [], "cosine_sim": []}
            for j, qid in enumerate(qids):
                col = c6[:, j]
                if exclude_self:
                    col = np.where(ids == qid, -np.inf, col)
                # local top-k by (cosine desc, id asc) — lexsort keys
                # are applied last-key-primary
                order = np.lexsort((ids, -col))[:k]
                order = order[col[order] != -np.inf]
                out[query_id_col].extend([qid] * len(order))
                out[id_col].extend(ids[order])
                out["cosine_sim"].extend(col[order])
            yield pd.DataFrame(out)

    local = corpus.select(
        F.col(id_col).alias("__id"), as_double_array(vec_col).alias("__v")
    ).mapInPandas(score, out_schema)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        local.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def lsh_cosine_topk_batch(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    bits: int = 8,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str | None = None,
    exclude_self: bool = True,
    multi_probe: bool = True,
    probe_radius: int = 1,
) -> DataFrame:
    """Approximate batch top-k: candidates restricted to each query's
    LSH bucket(s), so the corpus×queries cross product becomes an
    equi-join on the bucket id. The exploded query side is broadcast,
    so the corpus never shuffles for the join; an unbounded query set
    belongs on a persisted index probed with ``broadcast_queries=False``
    (`probe_ivf_index`, `pq.probe_ivfpq_index`, `pq.probe_pq_index`).
    Per-query top-k by `_score_and_topk` (WindowGroupLimit partial
    before the exchange).

    ``multi_probe`` (default) expands each query to its bits+1
    Hamming-≤1 buckets (`_probe_buckets`) — candidate volume scales by
    ~(bits+1)/2^bits of the corpus per query, and recall@10 roughly
    doubles versus single-probe on the test embeddings.
    """
    qv = query_vec_col or vec_col
    bq = (
        with_lsh_bucket(
            queries.select(F.col(query_id_col).alias("__qid"), F.col(qv).alias("__qvec")),
            dim,
            bits,
            "__qvec",
            out_col="__qb0",
        )
        .select(
            "__qid",
            as_double_array("__qvec").alias("__q"),
            F.explode(_probe_buckets(F.col("__qb0"), bits, multi_probe, probe_radius)).alias("__qb"),
        )
    )
    bc = with_lsh_bucket(corpus, dim, bits, vec_col, out_col="__cb")
    pairs = bc.join(F.broadcast(bq), on=F.col("__cb") == F.col("__qb"), how="inner")
    return _score_and_topk(pairs, k, query_id_col, id_col, vec_col, exclude_self)


def ivf_cosine_topk_batch(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str | None = None,
    centroids: list[list[float]] | None = None,
    train: bool = True,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate batch top-k over the IVF index: each query explodes
    into its ``n_probe`` nearest cells, candidates come from an
    equi-join of (query, probe_cell) against the celled corpus, and
    the per-query top-k window ranks exact cosine within candidates.

    The exploded query side is |queries|·n_probe rows — tiny relative
    to the corpus — and is broadcast; the join is keyed on n_cells
    values, never a cartesian. At 100 TB the celled corpus is the
    persisted inverted index (`write_ivf_index`), and an unbounded
    query set probes it with ``broadcast_queries=False``
    (`probe_ivf_index`, `pq.probe_ivfpq_index`). Queries near cell
    boundaries are exactly why multi-probe exists; recall scales with
    n_probe at n_probe/n_cells of the scan cost.
    """
    if centroids is None and train:
        centroids = train_ivf_centroids(corpus, n_cells, vec_col)
    cents = centroids if centroids is not None else _coarse_centroids(dim, n_cells)
    celled = with_ivf_cell(corpus, dim, n_cells, vec_col, centroids=cents)

    qv = query_vec_col or vec_col
    qvec = as_double_array(qv)
    cell_scores = F.array(*[dot(qvec, lit_double_array(c)) for c in cents])
    probe_cells = F.expr(
        f"transform(slice(array_sort(zip_with(__cscores, sequence(0, {len(cents) - 1}),"
        f" (s, i) -> named_struct('s', -s, 'i', i))), 1, {n_probe}), x -> x.i)"
    )
    # NULL query vectors: their cell-score array is an array OF NULLs,
    # which still sorts to real probe cells — filter them out (they
    # retrieve nothing, per the engine convention)
    from reactionetl_etl_spark.functions.vectors import non_null_vectors

    q = (
        non_null_vectors(queries, qv)
        .select(
            F.col(query_id_col).alias("__qid"),
            qvec.alias("__q"),
            cell_scores.alias("__cscores"),
        )
        .select("__qid", "__q", F.explode(probe_cells).alias("__probe_cell"))
    )
    pairs = celled.join(
        F.broadcast(q), on=F.col("ivf_cell") == F.col("__probe_cell"), how="inner"
    )
    return _score_and_topk(pairs, k, query_id_col, id_col, vec_col, exclude_self)


def write_lsh_index(
    embeddings: DataFrame,
    dim: int,
    path: str,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "append",
) -> None:
    """Persist the LSH-bucketed vector index: parquet PARTITIONED BY the
    bucket id. Sign each vector once, when it arrives (``mode='append'``
    grows the index incrementally — the hyperplanes are deterministic,
    so old and new batches bucket consistently); ANN probes then read
    only the partitions their queries hash into. NULL vectors (NULL
    bucket) are dropped: they would land in the Hive default partition
    and no probe could ever match them."""
    with_lsh_bucket(embeddings, dim, bits, vec_col).filter(
        F.col("lsh_bucket").isNotNull()
    ).select(
        id_col, vec_col, "lsh_bucket"
    ).write.mode(mode).partitionBy("lsh_bucket").parquet(path)


def probe_lsh_index(
    queries: DataFrame,
    index: DataFrame,
    dim: int,
    k: int = 10,
    bits: int = 8,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str | None = None,
    exclude_self: bool = True,
    multi_probe: bool = True,
    probe_radius: int = 1,
) -> DataFrame:
    """Batch ANN against a PERSISTED index (``spark.read.parquet`` of a
    `write_lsh_index` layout): queries are bucketed with the same
    deterministic hyperplanes and equi-joined to the index on the
    bucket id. Because ``lsh_bucket`` is the index's PARTITION column
    and the broadcast query side is selective, Spark's dynamic
    partition pruning skips every index partition no query hashes into
    — the probe reads ≤ (bits+1)·|queries| of the 2^bits index
    partitions with ``multi_probe`` (default; `_probe_buckets`), or
    exactly the query buckets without. Per-query top-k as in
    `cosine_topk_batch`.

    ``bits``/``dim`` must equal the index's build parameters.
    """
    qv = query_vec_col or vec_col
    bq = (
        with_lsh_bucket(
            queries.select(F.col(query_id_col).alias("__qid"), F.col(qv).alias("__qvec")),
            dim,
            bits,
            "__qvec",
            out_col="__qb0",
        )
        .select(
            "__qid",
            as_double_array("__qvec").alias("__q"),
            F.explode(_probe_buckets(F.col("__qb0"), bits, multi_probe, probe_radius)).alias("__qb"),
        )
    )
    pairs = index.join(
        F.broadcast(bq), on=F.col("lsh_bucket") == F.col("__qb"), how="inner"
    )
    return _score_and_topk(pairs, k, query_id_col, id_col, vec_col, exclude_self)


def write_ivf_index(
    embeddings: DataFrame,
    dim: int,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    train: bool = True,
    mode: str = "overwrite",
) -> list[list[float]]:
    """Persist the IVF inverted index: vectors as parquet PARTITIONED BY
    their coarse cell, centroids alongside (``<path>/centroids``) so a
    later probe assigns queries with the index's exact geometry.
    Returns the centroids used. Unlike LSH, appending NEW batches must
    reuse the stored centroids (pass them in) — retraining would
    re-cell old data inconsistently."""
    if mode == "append" and centroids is None:
        # enforced, not just documented: retraining on append would cell
        # the new batch with a different geometry than the existing
        # partitions AND clobber the centroid sidecar — a corrupt index
        raise ValueError(
            "append requires the index's stored centroids — pass "
            "centroids=read_ivf_centroids(spark, path)"
        )
    if centroids is None and train:
        centroids = train_ivf_centroids(embeddings, n_cells, vec_col)
    cents = centroids if centroids is not None else _coarse_centroids(dim, n_cells)
    spark = embeddings.sparkSession
    # NULL vectors assign a NULL cell (their centroid dots are NULL) —
    # drop them, as for the LSH index: an unprobeable default-partition
    # row is dead weight
    with_ivf_cell(embeddings, dim, len(cents), vec_col, centroids=cents).filter(
        F.col("ivf_cell").isNotNull()
    ).select(
        id_col, vec_col, "ivf_cell"
    ).write.mode(mode).partitionBy("ivf_cell").parquet(f"{path}/vectors")
    # centroids always overwrite: appends must pass the stored
    # centroids, so the sidecar is identical — append mode would
    # duplicate its rows. Flat (cell, dim_idx, value) rows THROUGH
    # PANDAS: a Python-list createDataFrame rides the pickled-RDD path
    # and a parquet write of this tiny frame pays a ~4.5 s Python
    # round-trip per action (measured r12) — per MICRO-BATCH in the
    # streaming sink; the pandas/Arrow path builds a JVM LocalRelation
    # and writes in ~0.2 s.
    import pandas as _pd

    sidecar = _pd.DataFrame(
        [(i, j, float(x)) for i, c in enumerate(cents) for j, x in enumerate(c)],
        columns=["cell", "dim_idx", "value"],
    )
    spark.createDataFrame(sidecar).select(
        F.col("cell").cast("int").alias("cell"),
        F.col("dim_idx").cast("int").alias("dim_idx"),
        F.col("value").cast("double").alias("value"),
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    return cents


def read_ivf_centroids(spark, path: str) -> list[list[float]]:
    """Centroids of a `write_ivf_index` layout, in (cell, dim) order."""
    sidecar = spark.read.parquet(f"{path}/centroids")
    rows = sidecar.orderBy("cell", "dim_idx").collect()
    cents: list[list[float]] = []
    for r in rows:
        while len(cents) <= r["cell"]:
            cents.append([])
        cents[r["cell"]].append(r["value"])
    return cents


def probe_ivf_index(
    queries: DataFrame,
    index_vectors: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str | None = None,
    exclude_self: bool = True,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Batch ANN against a PERSISTED IVF index
    (``spark.read.parquet(f"{path}/vectors")`` +
    `read_ivf_centroids`): queries explode to their n_probe nearest
    stored cells and equi-join the index on its PARTITION column, so
    dynamic partition pruning reads only probed cells. Per-query top-k
    as in `cosine_topk_batch`.

    ``broadcast_queries=False`` is the UNBOUNDED-query-set shape: the
    exploded (query, probe_cell) side meets the index in a plain
    hash-partitioned equi-join on the cell id instead of a driver
    broadcast — no driver memory bound on the query side, at the cost
    of partition pruning (an unbounded probe set touches every cell
    anyway) and a shuffle of both sides keyed on ~n_cells values."""
    qv = query_vec_col or vec_col
    qvec = as_double_array(qv)
    cell_scores = F.array(
        *[dot(qvec, lit_double_array(c)) for c in centroids]
    )
    probe_cells = F.expr(
        f"transform(slice(array_sort(zip_with(__cscores, sequence(0, {len(centroids) - 1}),"
        f" (s, i) -> named_struct('s', -s, 'i', i))), 1, {n_probe}), x -> x.i)"
    )
    # NULL query vectors retrieve nothing (array-of-NULLs cell scores
    # would otherwise still sort to real probe cells)
    from reactionetl_etl_spark.functions.vectors import non_null_vectors

    q = (
        non_null_vectors(queries, qv)
        .select(
            F.col(query_id_col).alias("__qid"),
            qvec.alias("__q"),
            cell_scores.alias("__cscores"),
        )
        .select("__qid", "__q", F.explode(probe_cells).alias("__probe_cell"))
    )
    if broadcast_queries:
        q = F.broadcast(q)
    pairs = index_vectors.join(
        q, on=F.col("ivf_cell") == F.col("__probe_cell"), how="inner"
    )
    return _score_and_topk(pairs, k, query_id_col, id_col, vec_col, exclude_self)


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lsh_dim: int | None = None,
    lsh_bits: int = 8,
    max_exact_rows: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine_sim)
    with id_a < id_b and cosine ≥ threshold.

    Default is the exact all-pairs baseline (self-join): O(n²) dot
    products, correct at any threshold — fine for dim-table-sized
    corpora and the correctness oracle, and GUARDED: if the input
    exceeds ``max_exact_rows`` (one count() action at build time) it
    raises instead of scheduling a 10¹⁰-pair crossJoin. Pass
    ``lsh_dim`` to switch to the scale path: vectors are first bucketed
    by random-hyperplane LSH and only same-bucket pairs are compared —
    the join becomes an equi-join on the bucket id (shuffle keyed on
    2^bits values instead of a cartesian product), trading recall for
    ~2^bits less work. The LSH path is unguarded (it scales).
    """
    if lsh_dim is None:
        # Exact path = blocked driver BLAS: the guard already bounds the
        # input to metadata size, and the interpreted HOF all-pairs
        # formulation measured ~60 s at 2 000x64 where the gram matmul
        # takes milliseconds (PERF_NOTES r9; same rewrite as
        # mutual_nearest_pairs). Identical 6-dp half-away-from-zero
        # rounding before the threshold compare.
        import numpy as np

        _guard_exact_collect(
            embeddings, vec_col, max_exact_rows, "exact all-pairs cosine"
        )
        spark = embeddings.sparkSession
        schema = "id_a bigint, id_b bigint, cosine_sim double"
        # NULL vectors can't be near-duplicates of anything and would
        # crash the numpy matrix build (list(None)) — exclude them
        from reactionetl_etl_spark.functions.vectors import non_null_vectors

        rows = (
            non_null_vectors(embeddings, vec_col)
            .select(F.col(id_col).cast("bigint"), as_double_array(vec_col))
            .collect()
        )
        if len(rows) < 2:
            return spark.createDataFrame([], schema)
        ids = np.array([r[0] for r in rows], dtype=np.int64)
        order = np.argsort(ids)
        ids, mat = ids[order], np.array([list(rows[i][1]) for i in order], dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0
        unit = mat / norms[:, None]
        out = []
        for lo in range(0, len(ids), 256):  # bound block memory at n×256
            hi = min(lo + 256, len(ids))
            sims = unit[lo:hi] @ unit[lo:].T  # only j >= lo needed
            c6 = (
                np.where(
                    sims >= 0,
                    np.floor(sims * 1e6 + 0.5),
                    np.ceil(sims * 1e6 - 0.5),
                )
                / 1e6
            )
            ai, bj = np.nonzero(c6 >= threshold)
            for i, j in zip(ai.tolist(), bj.tolist()):
                if lo + i < lo + j:  # id_a < id_b (ids sorted)
                    out.append(
                        (int(ids[lo + i]), int(ids[lo + j]), float(c6[i, j]))
                    )
        return spark.createDataFrame(out, schema)

    base = with_lsh_bucket(embeddings, lsh_dim, lsh_bits, vec_col)
    left = base.select(
        "lsh_bucket", F.col(id_col).alias("id_a"), as_double_array(vec_col).alias("__va")
    )
    right = base.select(
        "lsh_bucket", F.col(id_col).alias("id_b"), as_double_array(vec_col).alias("__vb")
    )
    pairs = left.join(right, on=["lsh_bucket"], how="inner").filter(
        F.col("id_a") < F.col("id_b")
    )
    sim = cosine_similarity(F.col("__va"), F.col("__vb"))
    return (
        pairs.withColumn("cosine_sim", F.round(sim, 6))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def lsh_cosine_topk(
    embeddings: DataFrame,
    query_id: int,
    dim: int,
    k: int = 10,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: bool = True,
    probe_radius: int = 1,
) -> DataFrame:
    """Approximate top-k: exact cosine ranking restricted to the
    query's LSH bucket(s) — with ``multi_probe`` (default) the exact
    bucket plus its bits Hamming-distance-1 neighbours
    (`_probe_buckets`), without it the exact bucket only."""
    bucketed = with_lsh_bucket(embeddings, dim, bits, vec_col)
    q = bucketed.filter(F.col(id_col) == query_id).select(
        as_double_array(vec_col).alias("__q"),
        F.explode(
            _probe_buckets(F.col("lsh_bucket"), bits, multi_probe, probe_radius)
        ).alias("__qb"),
    )
    cand = bucketed.filter(F.col(id_col) != query_id).join(
        F.broadcast(q), on=F.col("lsh_bucket") == F.col("__qb"), how="inner"
    )
    sim = cosine_similarity(as_double_array(vec_col), F.col("__q"))
    return (
        cand.select(F.col(id_col), F.round(sim, 6).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def quantize_embeddings_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    qvec_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: 4× smaller embeddings
    for the candidate-generation side of ANN at 100 TB (the full-
    precision vectors stay on disk for the re-rank pass only).

        scale = max(|x_i|) / 127        (one scalar per vector)
        q_i   = floor(x_i / scale + 0.5) ∈ [-127, 127]

    floor(x+0.5), not round(): round's half-even/half-up behavior
    differs across engines, floor is exact everywhere — the same
    convention the catalog's oracled queries use. Zero vectors get
    scale 0 and all-zero codes. Pure array expressions: zero shuffle,
    whole-stage codegen, no Python."""
    x = F.col(vec_col)
    amax = F.aggregate(
        x, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v.cast("double")))
    )
    scale = (amax / F.lit(127.0)).alias(scale_col)
    q = F.when(
        amax == 0.0,
        F.transform(x, lambda v: F.lit(0).cast("tinyint")),
    ).otherwise(
        F.transform(
            x,
            lambda v: F.floor(v.cast("double") / (amax / F.lit(127.0)) + F.lit(0.5)).cast(
                "tinyint"
            ),
        )
    )
    return df.withColumns({scale_col: scale, qvec_col: q.alias(qvec_col)})


def dequantize_embeddings_int8(
    df: DataFrame,
    qvec_col: str = "qvec",
    scale_col: str = "qscale",
    out_col: str = "embedding_dq",
) -> DataFrame:
    """Inverse of `quantize_embeddings_int8`: x̂_i = q_i · scale.
    Reconstruction error is bounded by scale/2 per component."""
    return df.withColumn(
        out_col,
        F.transform(F.col(qvec_col), lambda q: q.cast("double") * F.col(scale_col)),
    )


def mutual_nearest_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lsh_dim: int | None = None,
    lsh_bits: int = 8,
    max_exact_rows: int = 100_000,
) -> DataFrame:
    """Mutual-nearest-neighbor pairs: (id_a, id_b, cosine_sim) where
    each vector is the OTHER's top-1 cosine neighbor — the standard
    dataset-alignment / cross-corpus matching primitive (MNN pairs are
    far more precise anchors than one-directional top-1).

    Same two regimes as `cosine_neardup_pairs`: the exact path
    self-joins all pairs and is GUARDED by ``max_exact_rows``; passing
    ``lsh_dim`` restricts candidates to same-LSH-bucket pairs (the
    scale path — approximate, equi-join keyed on 2^bits buckets). The
    top-1 per side is selected on the 6-dp-rounded cosine with the
    neighbor id as tie-break, so the argmax is deterministic
    cross-engine (raw float low bits differ by summation order); the
    per-source rank on the LSH path executes as WindowGroupLimit
    partials, never a full sort of the candidate set; the guarded
    exact path runs as blocked driver BLAS (a gram matrix over a
    size-bounded collect — the semdedup-trainer discipline; the
    interpreted HOF formulation measured 60 s at 2 000x64 where the
    matmul takes milliseconds).
    """
    from pyspark.sql import Window

    if lsh_dim is None:
        import numpy as np

        _guard_exact_collect(
            embeddings, vec_col, max_exact_rows, "exact all-pairs MNN"
        )
        spark = embeddings.sparkSession
        schema = "id_a bigint, id_b bigint, cosine_sim double"
        # NULL vectors have no neighbors and would crash the matrix
        # build — exclude them (same convention as the near-dup path)
        from reactionetl_etl_spark.functions.vectors import non_null_vectors

        rows = (
            non_null_vectors(embeddings, vec_col)
            .select(F.col(id_col).cast("bigint"), as_double_array(vec_col))
            .collect()
        )
        if len(rows) < 2:
            return spark.createDataFrame([], schema)
        ids = np.array([r[0] for r in rows], dtype=np.int64)
        mat = np.array([r[1] for r in rows], dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0
        unit = mat / norms[:, None]
        top_dst = np.empty(len(ids), dtype=np.int64)
        top_c = np.empty(len(ids), dtype=np.float64)
        big = np.iinfo(np.int64).max
        for lo in range(0, len(ids), 256):  # bound block memory at n×256
            hi = min(lo + 256, len(ids))
            sims = unit[lo:hi] @ unit.T
            # 6-dp half-away-from-zero round — the argmax key F.round uses
            c6 = (
                np.where(
                    sims >= 0,
                    np.floor(sims * 1e6 + 0.5),
                    np.ceil(sims * 1e6 - 0.5),
                )
                / 1e6
            )
            c6[np.arange(lo, hi) - lo, np.arange(lo, hi)] = -np.inf  # no self
            m = c6.max(axis=1)
            tied_min_id = np.where(c6 == m[:, None], ids[None, :], big).min(axis=1)
            top_c[lo:hi] = m
            top_dst[lo:hi] = tied_min_id
        pos = {int(v): i for i, v in enumerate(ids)}
        out = []
        for i, v in enumerate(ids):
            j = pos[int(top_dst[i])]
            if v < top_dst[i] and top_dst[j] == v:
                out.append((int(v), int(top_dst[i]), float(top_c[i])))
        return spark.createDataFrame(out, schema)

    base = with_lsh_bucket(embeddings, lsh_dim, lsh_bits, vec_col)
    left = base.select(
        "lsh_bucket", F.col(id_col).alias("ia"), as_double_array(vec_col).alias("__va")
    )
    right = base.select(
        "lsh_bucket", F.col(id_col).alias("ib"), as_double_array(vec_col).alias("__vb")
    )
    pairs = left.join(right, on=["lsh_bucket"], how="inner").filter(
        F.col("ia") < F.col("ib")
    )
    scored = pairs.select(
        "ia", "ib", F.round(cosine_similarity(F.col("__va"), F.col("__vb")), 6).alias("c")
    )
    directed = scored.select(
        F.col("ia").alias("src"), F.col("ib").alias("dst"), "c"
    ).unionByName(scored.select(F.col("ib").alias("src"), F.col("ia").alias("dst"), "c"))
    w = Window.partitionBy("src").orderBy(F.desc("c"), F.asc("dst"))
    top1 = (
        directed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    other = top1.select(
        F.col("src").alias("o_src"), F.col("dst").alias("o_dst")
    )
    return (
        top1.join(
            other,
            (F.col("src") == F.col("o_dst")) & (F.col("dst") == F.col("o_src")),
        )
        .filter(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("id_a"),
            F.col("dst").alias("id_b"),
            F.col("c").alias("cosine_sim"),
        )
    )
