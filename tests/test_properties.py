"""Property-based checks (hypothesis) for operator invariants.

Each property pins a semantic contract with randomized inputs:
- asof_join agrees with pandas merge_asof (an independent oracle);
- enrichment never changes fact row count and is idempotent;
- MinHash Jaccard estimates are within banded-LSH tolerance of exact;
- text normalization is idempotent.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import Window
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # key
        st.integers(min_value=0, max_value=50),  # ts
    ),
    min_size=0,
    max_size=25,
)


@given(left_rows=rows_strategy, right_rows=rows_strategy)
@settings(**SETTINGS)
def test_asof_join_matches_pandas_merge_asof(spark, left_rows, right_rows):
    from reactionetl_etl_spark.operators.asof import asof_join

    left_pdf = (
        pd.DataFrame(left_rows, columns=["k", "ts"])
        .drop_duplicates()
        .astype({"k": "int64", "ts": "int64"})
    )
    right_pdf = (
        pd.DataFrame(right_rows, columns=["k", "ts"])
        .drop_duplicates(subset=["k", "ts"])
        .astype({"k": "int64", "ts": "int64"})
        .assign(payload=lambda d: d["k"] * 1000 + d["ts"] * 1.0)
        .astype({"payload": "float64"})
    )
    left = spark.createDataFrame(left_pdf, "k int, ts int") if len(left_pdf) else None
    if left is None:
        return
    right = spark.createDataFrame(
        right_pdf, "k int, ts int, payload double"
    ) if len(right_pdf) else spark.createDataFrame([], "k int, ts int, payload double")

    got = (
        asof_join(left, right, on="k", left_ts="ts", right_ts="ts", payload_cols=["payload"])
        .toPandas()
        .sort_values(["k", "ts"])
        .reset_index(drop=True)
    )
    expected = pd.merge_asof(
        left_pdf.sort_values("ts"),
        right_pdf.sort_values("ts"),
        on="ts",
        by="k",
        direction="backward",
    ).sort_values(["k", "ts"]).reset_index(drop=True)
    got_pairs = {(r.k, r.ts): None if pd.isna(r.payload) else r.payload for r in got.itertuples()}
    want_pairs = {
        (r.k, r.ts): None if pd.isna(r.payload) else r.payload for r in expected.itertuples()
    }
    assert got_pairs == want_pairs


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab \t\n"),
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(**SETTINGS)
def test_normalize_text_idempotent(spark, texts):
    from reactionetl_etl_spark.operators.dedup import normalize_text

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    out = df.select(
        normalize_text("text").alias("once"),
    ).select(F.col("once"), normalize_text(F.col("once")).alias("twice"))
    for r in out.collect():
        assert r["once"] == r["twice"]


def test_enrichment_preserves_rowcount_and_is_idempotent(spark, sf_dir):
    from reactionetl_etl_spark.operators.relational import enrich_with_dim

    orders = (
        __import__("reactionetl_etl_spark.sources.tables", fromlist=["load_table"])
        .load_table(spark, sf_dir, "orders")
    )
    cust = (
        __import__("reactionetl_etl_spark.sources.tables", fromlist=["load_table"])
        .load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
    )
    n = orders.count()
    once = enrich_with_dim(orders, cust, "o_custkey", ["c_nationkey"])
    assert once.count() == n
    twice = enrich_with_dim(once, cust, "o_custkey", ["c_nationkey"])
    assert twice.count() == n
    assert sorted(once.select("o_orderkey", "c_nationkey").collect()) == sorted(
        twice.select("o_orderkey", "c_nationkey").collect()
    )


def test_minhash_estimates_track_exact_jaccard(spark):
    """Near-identical docs must surface as candidates with estimates
    near their true Jaccard; unrelated docs must not pair."""
    from reactionetl_etl_spark.operators.dedup import minhash_lsh_candidates

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base.replace("lazy", "sleepy")
    other = "completely different content about spark shuffles and parquet files " * 5
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_candidates(df, "text", "doc_id", min_jaccard=0.3).collect()
    }
    assert (1, 2) in pairs
    assert pairs[(1, 2)] > 0.5
    assert (1, 3) not in pairs and (2, 3) not in pairs


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("abc@+-.19 \t"),
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_redact_pii_idempotent_and_clean(spark, texts):
    """Redaction is a fixpoint: redacting redacted text changes nothing,
    and redacted text contains no remaining PII matches."""
    from reactionetl_etl_spark.operators.text import pii_count, redact_pii

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    out = df.select(redact_pii("text").alias("once")).select(
        "once",
        redact_pii(F.col("once")).alias("twice"),
        pii_count(F.col("once"), "email").alias("ne"),
        pii_count(F.col("once"), "phone").alias("np"),
    )
    for r in out.collect():
        assert r["once"] == r["twice"]
        assert r["ne"] == 0 and r["np"] == 0


@given(
    docs=st.lists(
        st.text(alphabet=st.sampled_from("ab cd "), min_size=1, max_size=40),
        min_size=1,
        max_size=6,
    )
)
@settings(**SETTINGS)
def test_contamination_self_probe_hits_every_doc(spark, docs):
    """Probing a corpus against itself reports every doc as
    contaminated with itself (n_shared >= 1) — grams always exist
    because short docs emit one truncated shingle."""
    from reactionetl_etl_spark.operators.text import ngram_contamination

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["train_id"], r["eval_id"]): r["n_shared"]
        for r in ngram_contamination(df, df, "text", "doc_id", k=3).collect()
    }
    for i, _ in rows:
        assert got.get((i, i), 0) >= 1


@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=9999).map(lambda i: i / 100.0),
        min_size=0,
        max_size=20,
    ),
    bin_width=st.sampled_from([1.0, 3.0, 7.5, 50.0]),
)
@settings(**SETTINGS)
def test_binned_range_join_matches_naive(spark, vals, bin_width):
    """The bin-id equi-join formulation returns exactly the pairs of a
    naive non-equi range join, for any bin width."""
    from reactionetl_etl_spark.operators.relational import binned_range_join

    ranges = [("a", 0.0, 10.0), ("b", 10.0, 25.0), ("c", 5.0, 60.0), ("d", 60.0, 100.0)]
    facts = spark.createDataFrame([(float(v),) for v in vals], "v double")
    rdf = spark.createDataFrame(ranges, "name string, lo double, hi double")
    got = {
        (r["v"], r["name"])
        for r in binned_range_join(facts, rdf, "v", "lo", "hi", bin_width).collect()
    }
    expected = {
        (float(v), n) for v in vals for (n, lo, hi) in ranges if lo <= float(v) < hi
    }
    assert got == expected


@given(
    left_rows=rows_strategy,
    right_rows=rows_strategy,
    direction=st.sampled_from(["backward", "forward"]),
    tolerance=st.sampled_from([None, 0, 3, 10]),
)
@settings(**SETTINGS)
def test_asof_join_direction_tolerance_matches_pandas(
    spark, left_rows, right_rows, direction, tolerance
):
    """direction='forward' and tolerance agree with pandas merge_asof,
    the independent oracle, across random key/ts layouts."""
    from reactionetl_etl_spark.operators.asof import asof_join

    left_pdf = (
        pd.DataFrame(left_rows, columns=["k", "ts"])
        .drop_duplicates()
        .astype({"k": "int64", "ts": "int64"})
    )
    right_pdf = (
        pd.DataFrame(right_rows, columns=["k", "ts"])
        .drop_duplicates(subset=["k", "ts"])
        .astype({"k": "int64", "ts": "int64"})
        .assign(payload=lambda d: d["k"] * 1000 + d["ts"] * 1.0)
        .astype({"payload": "float64"})
    )
    left = spark.createDataFrame(
        left_pdf if len(left_pdf) else pd.DataFrame({"k": [], "ts": []}).astype("int64"),
        "k long, ts long",
    )
    right = spark.createDataFrame(
        right_pdf
        if len(right_pdf)
        else pd.DataFrame({"k": [], "ts": [], "payload": []}).astype(
            {"k": "int64", "ts": "int64", "payload": "float64"}
        ),
        "k long, ts long, payload double",
    )
    got = asof_join(
        left,
        right,
        on="k",
        left_ts="ts",
        right_ts="ts",
        payload_cols=["payload"],
        direction=direction,
        tolerance=tolerance,
    ).toPandas()
    expected = pd.merge_asof(
        left_pdf.sort_values("ts"),
        right_pdf.sort_values("ts"),
        on="ts",
        by="k",
        direction=direction,
        tolerance=tolerance,
    )
    got_pairs = {(r.k, r.ts): None if pd.isna(r.payload) else r.payload for r in got.itertuples()}
    want_pairs = {
        (r.k, r.ts): None if pd.isna(r.payload) else r.payload for r in expected.itertuples()
    }
    assert got_pairs == want_pairs


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_skyline_matches_naive_dominance(spark, pts):
    """skyline_2d == the O(n^2) dominance definition on random integer
    point sets (duplicates and total ties included)."""
    from reactionetl_etl_spark.operators.relational import skyline_2d

    rows = [(i, float(a), float(b)) for i, (a, b) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id int, score double, cost double")
    got = {r["id"] for r in skyline_2d(df, "score", "cost").collect()}
    naive = {
        i
        for i, s, c in rows
        if not any(
            s2 >= s and c2 <= c and (s2 > s or c2 < c) for _, s2, c2 in rows
        )
    }
    assert got == naive


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=0,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_triangle_counts_match_naive_enumeration(spark, edges):
    """Degree-ordered triangle counting == brute-force triple
    enumeration on random graphs (self-loops and duplicate edges
    included in the input)."""
    from itertools import combinations

    from reactionetl_etl_spark.operators.graph import triangle_counts

    df = spark.createDataFrame(edges, "src int, dst int") if edges else None
    if df is None:
        return
    got = {
        r["node"]: (r["degree"], r["n_triangles"])
        for r in triangle_counts(df).collect()
    }
    adj = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({x for e in adj for x in e})
    deg = {v: sum(1 for e in adj if v in e) for v in nodes}
    tri = {v: 0 for v in nodes}
    for a, b, c in combinations(nodes, 3):
        if ((a, b) in adj) and ((b, c) in adj) and ((a, c) in adj):
            tri[a] += 1
            tri[b] += 1
            tri[c] += 1
    assert got == {v: (deg[v], tri[v]) for v in nodes}


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg"]),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=12,
    ),
    tau=st.sampled_from([0.4, 0.6, 0.8]),
)
@settings(**SETTINGS)
def test_jaccard_prefix_join_never_misses_pairs(spark, texts, tau):
    """The prefix filter admits EVERY pair with Jaccard >= tau (the
    exactness guarantee), and admits nothing below tau, on random
    small-vocabulary corpora."""
    from reactionetl_etl_spark.operators.dedup import jaccard_prefix_join

    rows = [(i, " ".join(words)) for i, words in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r["id_a"], r["id_b"]) for r in jaccard_prefix_join(docs, tau=tau).collect()
    }
    sets = {i: set(t.split()) for i, t in rows}
    ids = sorted(sets)
    naive = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= tau
    }
    assert got == naive


@given(
    left_rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 99)), min_size=0, max_size=12
    ),
    right_rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(100, 199)), min_size=0, max_size=12
    ),
    cuts=st.tuples(st.integers(0, 12), st.integers(0, 12)),
    order=st.booleans(),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_incremental_join_any_interleaving_equals_one_shot(
    spark, tmp_path_factory, left_rows, right_rows, cuts, order
):
    """Delta-rule join maintenance: for RANDOM row sets, batch split
    points, and side orderings, the folded state equals the one-shot
    join of everything."""
    from reactionetl_etl_spark.etl.incremental_join import (
        merge_join_state,
        read_join_view,
    )

    tmp = tmp_path_factory.mktemp("ivm")
    state = str(tmp / "s")

    def df(rows, col):
        return spark.createDataFrame(
            [(k, v) for k, v in rows] or [(None, None)], f"k int, {col} int"
        ).filter(F.col("k").isNotNull())

    lcut = min(cuts[0], len(left_rows))
    rcut = min(cuts[1], len(right_rows))
    batches = [
        ("lA", dict(delta_left=df(left_rows[:lcut], "lv"))),
        ("rA", dict(delta_right=df(right_rows[:rcut], "rv"))),
        ("lB", dict(delta_left=df(left_rows[lcut:], "lv"))),
        ("rB", dict(delta_right=df(right_rows[rcut:], "rv"))),
    ]
    if order:
        batches = [batches[1], batches[3], batches[0], batches[2]]
    for bid, kw in batches:
        merge_join_state(spark, state, "k", bid, **kw)

    want = sorted(
        (k1, lv, rv)
        for k1, lv in left_rows
        for k2, rv in right_rows
        if k1 == k2
    )
    try:
        got = sorted(
            (r["k"], r["lv"], r["rv"]) for r in read_join_view(spark, state).collect()
        )
    except ValueError:
        got = []  # no pairs ever formed
    assert got == want


@given(
    vals=st.lists(st.integers(0, 500), min_size=1, max_size=40),
    slack=st.sampled_from([0, 5, 20]),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_cusum_window_identity_matches_recurrence(spark, vals, slack):
    """The windowed formulation S_t = P_t − min(0, running-min P) used
    by `events_cusum_alarms` equals the direct CUSUM recurrence
    S_t = max(0, S_{t−1} + d_t) on random integer series (integer
    deviations, so no float question)."""
    n = len(vals)
    total = sum(vals)
    # integer multiply-through-by-n deviations, as the query computes
    devs = [n * v - total - n * slack for v in vals]

    s, direct = 0, []
    for d in devs:
        s = max(0, s + d)
        direct.append(s)

    rows = [(i, devs[i]) for i in range(n)]
    df = spark.createDataFrame(rows, "i int, d long")
    w = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    out = (
        df.withColumn("p", F.sum("d").over(w))
        .withColumn("s", F.col("p") - F.least(F.lit(0).cast("long"), F.min("p").over(w)))
        .orderBy("i")
        .collect()
    )
    assert [r["s"] for r in out] == direct


edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),
        st.integers(min_value=0, max_value=12),
    ),
    min_size=1,
    max_size=40,
)


@given(edges=edges_strategy)
@settings(**SETTINGS)
def test_bfs_hops_matches_textbook_bfs_random_graphs(spark, edges):
    """bfs_hops == textbook BFS from min(node) on arbitrary small
    graphs: self-loops, parallel edges, disconnected pieces, cycles."""
    from collections import deque

    from reactionetl_etl_spark.operators.graph import bfs_hops

    clean = [(a, b) for a, b in edges if a != b]
    if not clean:
        return
    adj: dict = {}
    for a, b in clean:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    src = min(adj)
    want, q = {src: 0}, deque([src])
    while q:
        u = q.popleft()
        for v in adj[u]:
            if v not in want and want[u] < 3:
                want[v] = want[u] + 1
                q.append(v)
    df = spark.createDataFrame(clean, "src int, dst int")
    got = {r["node"]: r["hops"] for r in bfs_hops(df, max_hops=3).collect()}
    assert got == want


@given(edges=edges_strategy, k=st.integers(min_value=2, max_value=4))
@settings(**SETTINGS)
def test_kcore_matches_textbook_peeling_random_graphs(spark, edges, k):
    """k_core == sequential peeling on arbitrary small graphs, for the
    k values the catalog uses and beyond."""
    from reactionetl_etl_spark.operators.graph import k_core

    E = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not E:
        return
    cur = set(E)
    while True:
        deg: dict = {}
        for u, v in cur:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        nxt = {(u, v) for u, v in cur if u in keep and v in keep}
        if nxt == cur:
            break
        cur = nxt
    want = {}
    for u, v in cur:
        want[u] = want.get(u, 0) + 1
        want[v] = want.get(v, 0) + 1
    df = spark.createDataFrame(sorted(E), "src int, dst int")
    got = {
        r["node"]: r["core_degree"]
        for r in k_core(df, k=k, max_iter=60).collect()
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),  # score (small range → ties)
            st.booleans(),  # label
        ),
        min_size=2,
        max_size=60,
    )
)
@settings(**SETTINGS)
def test_auc_rank_sum_matches_naive_pair_counting(spark, rows):
    """The Mann-Whitney AUC formulation equals the definitional pair
    count (P(pos > neg) + 0.5·P(pos == neg)) on random tied data."""
    import math

    from reactionetl_etl_spark.operators.rank import global_running_sum

    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    if not pos or not neg:
        return
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    want = (wins + 0.5 * ties) / (len(pos) * len(neg))

    df = spark.createDataFrame(
        [(s, 1 if y else 0) for s, y in rows], "score int, y int"
    )
    by_score = df.groupBy("score").agg(
        F.sum("y").alias("p_v"), F.sum(F.lit(1) - F.col("y")).alias("n_v")
    )
    cum = global_running_sum(
        by_score,
        order_exprs=[F.col("score")],
        order_desc=[False],
        value_col="n_v",
        out_col="neg_below",
        exclusive=True,
    )
    u2 = cum.agg(
        F.sum(F.col("p_v") * (2 * F.col("neg_below") + F.col("n_v"))).alias("u2")
    ).collect()[0]["u2"]
    got = u2 / (2.0 * len(pos) * len(neg))
    assert math.isclose(got, want, rel_tol=0, abs_tol=1e-12)


def test_km_survival_matches_float_product_limit(spark, sf_dir):
    """The truncated-integer Kaplan-Meier curve is the real product-
    limit estimator: an independent numpy recompute (float ratios over
    the same censored durations, built with pandas groupby — no Spark
    code reused) matches every step within the accumulated truncation
    bound, and the curve obeys the KM invariants (survival and risk
    sets non-increasing, survival in [0, 1])."""
    import numpy as np

    from reactionetl_etl_spark.plans.catalog import all_queries
    from reactionetl_etl_spark.sources.tables import load_table

    rows = (
        all_queries()["km_reorder_survival"]
        .builder(spark, sf_dir)
        .orderBy("week")
        .collect()
    )
    assert rows
    surv = [r["surv_micro"] for r in rows]
    risk = [r["at_risk"] for r in rows]
    assert all(0 <= s <= 1_000_000_000_000 for s in surv)
    assert surv == sorted(surv, reverse=True)
    assert risk == sorted(risk, reverse=True)

    pdf = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    ).toPandas()
    pdf = pdf.sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
    nxt = pdf.groupby("o_custkey")["o_orderdate"].shift(-1)
    horizon = pdf["o_orderdate"].max()
    dur = ((nxt.fillna(horizon) - pdf["o_orderdate"]).dt.days // 7).to_numpy()
    ev = nxt.notna().to_numpy()

    s = 1.0
    expect = {}
    for wk in np.unique(dur[ev]):
        n = int((dur >= wk).sum())
        d = int((ev & (dur == wk)).sum())
        s *= (n - d) / n
        if wk <= 52:
            expect[int(wk)] = (d, n, s)
    assert len(rows) == len(expect)
    for r in rows:
        d, n, s_f = expect[r["week"]]
        assert (r["deaths"], r["at_risk"]) == (d, n)
        # each integer step truncates at most 1 micro-unit
        assert abs(r["surv_micro"] / 1e12 - s_f) < (len(expect) + 1) * 1e-12 + 1e-9


def test_conformal_qhat_is_the_order_statistic(spark, sf_dir):
    """q̂ equals the ⌈0.9(n+1)⌉-th smallest calibration residual
    recomputed directly with numpy from the same md5 split (no grouped
    prefix-sum machinery), and the reported coverage counts are
    internally consistent."""
    import hashlib

    import numpy as np

    from reactionetl_etl_spark.plans.catalog import all_queries
    from reactionetl_etl_spark.sources.tables import load_events

    row = all_queries()["conformal_event_value"].builder(spark, sf_dir).first()
    ev = load_events(spark, sf_dir).select("event_id", "ts_ntz", "value").toPandas()
    bucket = ev["event_id"].map(
        lambda i: int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 100
    )
    vm = np.floor(ev["value"].to_numpy() * 1_000_000 + 0.5).astype("int64")
    hr = ev["ts_ntz"].dt.hour.to_numpy()
    means = {
        h: int(vm[(bucket < 60) & (hr == h)].sum()) // int(((bucket < 60) & (hr == h)).sum())
        for h in np.unique(hr[bucket < 60])
    }
    resid = np.abs(vm - np.vectorize(means.get)(hr))
    calib = np.sort(resid[(bucket >= 60) & (bucket < 80)])
    k = -(-9 * (len(calib) + 1) // 10)  # ceil(0.9 (n+1))
    assert row["n_calib"] == len(calib)
    assert row["qhat_micro"] == int(calib[k - 1])
    test = resid[bucket >= 80]
    assert row["n_test"] == len(test)
    assert row["n_covered"] == int((test <= row["qhat_micro"]).sum())
    assert 0 <= row["coverage_micro"] <= 1_000_000


def test_removal_attribution_effects_are_monotone_losses(spark, sf_dir):
    """Deleting a channel can only LOSE conversion mass: every removal
    variant's absorption probability is ≤ the intact chain's, so every
    removal effect lies in [0, 10⁶] micro-units — and the intact
    baseline itself is a probability (≤ 10¹² pico-units)."""
    from reactionetl_etl_spark.plans.catalog import all_queries

    rows = (
        all_queries()["markov_removal_attribution"]
        .builder(spark, sf_dir)
        .collect()
    )
    assert {r["removed_state"] for r in rows} == {"view", "click", "signup", "error"}
    for r in rows:
        assert 0 <= r["conv_p12"] <= 1_000_000_000_000
        assert 0 <= r["removal_effect_micro"] <= 1_000_000


def test_mnn_pairs_form_a_matching(spark, sf_dir):
    """Mutual-nearest-neighbor output is a MATCHING: top-1 is unique
    per node, so no id can appear in two pairs — on the exact path AND
    the LSH-bucketed scale path (whose pairs must also reproduce the
    exact pair whenever both sides share a bucket and kept each other
    as top-1). Also pins the guard: an over-limit corpus raises
    instead of scheduling the quadratic join."""
    import pytest as _pytest

    from reactionetl_etl_spark.operators.similarity import mutual_nearest_pairs
    from reactionetl_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")

    exact = mutual_nearest_pairs(emb).collect()
    ids = [i for r in exact for i in (r["id_a"], r["id_b"])]
    assert len(ids) == len(set(ids))
    assert all(r["id_a"] < r["id_b"] for r in exact)
    assert all(-1.0 <= r["cosine_sim"] <= 1.0 for r in exact)

    lsh = mutual_nearest_pairs(emb, lsh_dim=64, lsh_bits=4).collect()
    lids = [i for r in lsh for i in (r["id_a"], r["id_b"])]
    assert len(lids) == len(set(lids))

    with _pytest.raises(ValueError, match="max_exact_rows"):
        mutual_nearest_pairs(emb, max_exact_rows=10)


def test_exact_collect_guards_are_byte_aware(spark):
    """The driver-collect exact paths guard on BYTES, not just rows: a
    frame far under the row bound but wide enough that rows × dim × 8
    exceeds the 256 MB driver ceiling raises loudly and points at the
    LSH path; max_exact_rows=None (the old 'skip the guard' opt-out)
    is now an explicit error instead of an unbounded collect."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from reactionetl_etl_spark.operators.similarity import (
        cosine_neardup_pairs,
        mutual_nearest_pairs,
    )

    # 1 000 rows × 64k dim ≈ 512 MB estimated — tiny row count, huge rows
    wide = spark.range(1000).select(
        F.col("id").alias("vec_id"),
        F.array_repeat(F.rand(seed=7), 65536).alias("embedding"),
    )
    with _pytest.raises(ValueError, match="MB driver ceiling"):
        cosine_neardup_pairs(wide)
    with _pytest.raises(ValueError, match="MB driver ceiling"):
        mutual_nearest_pairs(wide)

    small = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.array_repeat(F.rand(seed=7), 4).alias("embedding"),
    )
    with _pytest.raises(ValueError, match="unboundedly"):
        cosine_neardup_pairs(small, max_exact_rows=None)
    with _pytest.raises(ValueError, match="unboundedly"):
        mutual_nearest_pairs(small, max_exact_rows=None)


def test_exact_ann_paths_tolerate_null_vectors(spark):
    """A NULL embedding can't be anyone's neighbor; the exact
    driver-collect paths and the Arrow corpus scan must EXCLUDE such
    rows instead of crashing the numpy matrix build (list(None)) —
    results equal the same call on the pre-filtered frame."""
    from pyspark.sql import functions as F

    from reactionetl_etl_spark.operators.similarity import (
        cosine_neardup_pairs,
        cosine_topk_batch,
        mutual_nearest_pairs,
    )

    clean = spark.range(12).select(
        F.col("id").alias("vec_id"),
        F.array(
            F.sin(F.col("id") * 1.0), F.cos(F.col("id") * 2.0), F.lit(0.25)
        ).alias("embedding"),
    )
    dirty = clean.unionByName(
        spark.createDataFrame(
            [(99,), (100,)], "vec_id bigint"
        ).withColumn("embedding", F.lit(None).cast("array<double>"))
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(cosine_neardup_pairs(dirty, threshold=0.9)) == rows(
        cosine_neardup_pairs(clean, threshold=0.9)
    )
    assert rows(mutual_nearest_pairs(dirty)) == rows(mutual_nearest_pairs(clean))
    q = clean.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    assert rows(cosine_topk_batch(q, dirty, k=3)) == rows(
        cosine_topk_batch(q, clean, k=3)
    )


# The id types cosine_topk_batch must pass through unchanged, each
# derived from a non-negative bigint id column, with its dtype: bigint
# above 2^60 is not exact as float64.
_ID_TYPES = {
    "bigint": (lambda c: c, "bigint"),
    "int": (lambda c: c.cast("int"), "int"),
    "bigint_above_2_60": (lambda c: c + F.lit(2**60), "bigint"),
    "string": (lambda c: F.concat(F.lit("doc-"), c), "string"),
    "decimal": (lambda c: (c / 4).cast("decimal(10,2)"), "decimal(10,2)"),
    "date": (
        lambda c: F.date_add(F.lit("2000-01-01").cast("date"), c.cast("int")),
        "date",
    ),
}
_BATCH_SIZES = pytest.mark.parametrize("batch_rows", ["1", "10000"])
_ID_TYPE_PARAM = pytest.mark.parametrize("id_type", sorted(_ID_TYPES))


def _exact_topk_reference(queries, corpus, k):
    """cosine_topk_batch's rows by the HOF plan: `_score_and_topk` over
    a broadcast crossJoin, self-exclusion included."""
    from reactionetl_etl_spark.functions.vectors import as_double_array
    from reactionetl_etl_spark.operators.similarity import _score_and_topk

    q = queries.select(
        F.col("query_id").alias("__qid"), as_double_array("embedding").alias("__q")
    )
    return _score_and_topk(
        corpus.crossJoin(F.broadcast(q)), k, "query_id", "vec_id", "embedding",
        exclude_self=True,
    )


def _assert_matches_reference(queries, corpus, k, id_type):
    from reactionetl_etl_spark.operators.similarity import cosine_topk_batch

    got = cosine_topk_batch(queries, corpus, k=k)
    want = _exact_topk_reference(queries, corpus, k)
    assert got.dtypes == want.dtypes
    assert dict(got.dtypes)["query_id"] == _ID_TYPES[id_type][1]
    assert dict(got.dtypes)["vec_id"] == _ID_TYPES[id_type][1]
    rows = sorted(map(tuple, got.collect()))
    assert rows == sorted(map(tuple, want.collect()))
    return rows


def test_cosine_topk_batch_refuses_query_batch_over_bound(spark, monkeypatch):
    """The exact batch path collects its queries into the scorer's
    closure; a batch above MAX_QUERY_ROWS is refused by the bounded
    probe, while a batch at the bound still runs."""
    from reactionetl_etl_spark.operators import similarity

    corpus = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.array(F.sin(F.col("id") * 1.0), F.lit(0.5)).alias("embedding"),
    )
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    monkeypatch.setattr(similarity, "MAX_QUERY_ROWS", 2)
    with pytest.raises(ValueError, match="MAX_QUERY_ROWS=2"):
        similarity.cosine_topk_batch(queries, corpus, k=2)
    at_bound = queries.filter(F.col("query_id") < 2)
    assert similarity.cosine_topk_batch(at_bound, corpus, k=2).count() == 2 * 2


@_ID_TYPE_PARAM
@_BATCH_SIZES
def test_cosine_topk_batch_preserves_nonintegral_ids(
    spark, session_confs, id_type, batch_rows
):
    """cosine_topk_batch keeps the caller's id types and returns the HOF
    reference's rows for every id type and Arrow batch size. Vectors
    repeat every 3 ids, so each query has about 13 neighbours at
    cosine 1, more than k in one partition, and each partition holds
    its rows in descending id order: the id tie-break alone decides
    each batch's local cut and the final top-k."""
    session_confs({"spark.sql.execution.arrow.maxRecordsPerBatch": batch_rows})
    to_id = _ID_TYPES[id_type][0]
    base = spark.range(40).repartition(3).sortWithinPartitions(F.desc("id")).select(
        "id",
        F.array(
            F.sin(F.col("id") % 3 * 1.0), F.cos(F.col("id") % 3 * 2.0), F.lit(0.5)
        ).alias("embedding"),
    )
    corpus = base.select(to_id(F.col("id")).alias("vec_id"), "embedding")
    queries = base.filter(F.col("id") % 9 == 0).select(
        to_id(F.col("id")).alias("query_id"), "embedding"
    )
    rows = _assert_matches_reference(queries, corpus, 4, id_type)
    assert len(rows) == 5 * 4


def test_betweenness_matches_float_brandes(spark, sf_dir):
    """Witness for the truncated-integer k-source betweenness: a pure-
    Python float Brandes (same 4 sources, same depth-3 bound, textbook
    σ/δ recurrences — no catalog code reused) recomputed on the
    collected co-purchase edge list matches every node's bc_micro/10⁶
    within the per-term truncation bound."""
    from collections import defaultdict

    from reactionetl_etl_spark.plans.catalog import all_queries
    from reactionetl_etl_spark.sources.tables import load_table

    got = {
        r["part"]: r["bc_micro"]
        for r in all_queries()["copurchase_betweenness"].builder(spark, sf_dir).collect()
    }

    lp = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .toPandas()
    )
    baskets = defaultdict(set)
    for ok, pk in lp.itertuples(index=False):
        baskets[ok].add(pk)
    pair_n = defaultdict(int)
    for parts in baskets.values():
        ps = sorted(parts)
        for i, x in enumerate(ps):
            for y in ps[i + 1:]:
                pair_n[(x, y)] += 1
    adj = defaultdict(set)
    for (x, y), n in pair_n.items():
        if n >= 2:
            adj[x].add(y)
            adj[y].add(x)

    bc = defaultdict(float)
    n_terms = defaultdict(int)
    for src in sorted(adj)[:4]:
        levels = [{src}]
        seen = {src}
        sigma = {src: 1}
        for _ in range(3):
            nxt = defaultdict(int)
            for v in levels[-1]:
                for w in adj[v]:
                    if w not in seen:
                        nxt[w] += sigma[v]
            if not nxt:
                break
            levels.append(set(nxt))
            seen |= set(nxt)
            sigma.update(nxt)
        delta = defaultdict(float)
        for lvl in range(len(levels) - 2, 0, -1):
            for v in levels[lvl]:
                for w in adj[v]:
                    if w in levels[lvl + 1]:
                        delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
                        n_terms[v] += 1
            for v in levels[lvl]:
                bc[v] += delta[v]

    expect = {v: x for v, x in bc.items() if x > 0}
    assert set(got) == set(expect)
    for v, x in expect.items():
        # each truncated term loses < 1e-6, compounding through ≤2 levels
        tol = (n_terms[v] * 3 + 2) * 1e-6 + 1e-9
        assert abs(got[v] / 1e6 - x) <= tol, (v, got[v] / 1e6, x, tol)


@_ID_TYPE_PARAM
@_BATCH_SIZES
def test_arrow_exact_topk_equals_hof_path(
    spark, sf_dir, session_confs, id_type, batch_rows
):
    """The Arrow matmul scorer returns the HOF-fold reference's
    (query, neighbor, rounded cosine) rows on the real embedding
    corpus, self-exclusion included, for every id type and Arrow
    batch size."""
    from reactionetl_etl_spark.sources.tables import load_table

    session_confs({"spark.sql.execution.arrow.maxRecordsPerBatch": batch_rows})
    to_id = _ID_TYPES[id_type][0]
    raw = load_table(spark, sf_dir, "embeddings")
    emb = raw.withColumn("vec_id", to_id(F.col("vec_id")))
    qs = raw.filter(F.col("vec_id") % 37 == 0).select(
        to_id(F.col("vec_id")).alias("query_id"), "embedding"
    )
    _assert_matches_reference(qs, emb, 7, id_type)


def test_qte_matches_numpy_order_statistics(spark, sf_dir):
    """Witness for quantile treatment effects: each arm's P25/50/75 is
    recomputed as a direct numpy sorted order statistic (index
    ceil(q·n)−1) from the same micro values — no prefix-sum machinery
    reused."""
    import numpy as np

    from reactionetl_etl_spark.plans.catalog import all_queries
    from reactionetl_etl_spark.sources.tables import load_events

    got = {
        r["q"]: (r["treat_q_micro"], r["ctrl_q_micro"], r["qte_micro"])
        for r in all_queries()["event_value_quantile_effects"]
        .builder(spark, sf_dir)
        .collect()
    }
    pdf = load_events(spark, sf_dir).select("user_id", "value").toPandas()
    vm = np.floor(pdf["value"].to_numpy() * 1_000_000 + 0.5).astype("int64")
    arm = (pdf["user_id"].to_numpy() % 2).astype("int64")
    for q in (25, 50, 75):
        per_arm = {}
        for a in (0, 1):
            xs = np.sort(vm[arm == a])
            k = -(-q * len(xs) // 100)  # ceil(q*n/100)
            per_arm[a] = int(xs[k - 1])
        assert got[q] == (per_arm[1], per_arm[0], per_arm[1] - per_arm[0]), q


def test_sequential_test_matches_pandas_looks(spark, sf_dir):
    """Witness for the Pocock monitor: every look's z is recomputed in
    pandas/numpy from cumulative micro values (textbook two-sample z on
    plug-in variances), matching at the query's 4-dp floor; boundary
    crossings follow |z| > 2.361 exactly."""
    import math

    import numpy as np

    from reactionetl_etl_spark.plans.catalog import all_queries
    from reactionetl_etl_spark.sources.tables import load_events

    rows = {
        r["stage"]: r
        for r in all_queries()["event_value_sequential_test"]
        .builder(spark, sf_dir)
        .collect()
    }
    pdf = load_events(spark, sf_dir).select("user_id", "value", "ts_ntz").toPandas()
    vm = np.floor(pdf["value"].to_numpy() * 1_000_000 + 0.5).astype("int64")
    arm = (pdf["user_id"].to_numpy() % 2).astype("int64")
    stage = np.ceil(pdf["ts_ntz"].dt.day.to_numpy() / 5.0).astype("int64")
    for s, r in rows.items():
        z_parts = {}
        for a in (0, 1):
            xs = vm[(arm == a) & (stage <= s)].astype("float64")
            n = len(xs)
            sv, svv = float(xs.sum()), float((xs * xs).sum())
            mean = sv / n
            z_parts[a] = (n, mean, (svv / n - mean * mean) / n)
        z = (z_parts[1][1] - z_parts[0][1]) / math.sqrt(z_parts[1][2] + z_parts[0][2])
        assert (r["n1"], r["n0"]) == (z_parts[1][0], z_parts[0][0])
        assert abs(r["z4"] - z) < 2e-4, (s, r["z4"], z)
        assert r["crossed"] == int(abs(z) > 2.361)
