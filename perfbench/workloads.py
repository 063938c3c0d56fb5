"""The benchmark's workloads. Each one generates its inputs from the seed
(``setup``, which ends with untimed warm-up units), runs units for a
fixed time (``measure``) and checks the program's outputs (``check``).

Only public entry points are called: ``ReactionLake.run_once`` /
``materialize_enrichment``, ``pipelines.build_training_corpus`` and the
catalog's ``QuerySpec.builder``.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from perfbench import gen
from perfbench.stats import geomean, median, tail


class Workload:
    name = ""
    loop = ""

    def __init__(self, spark, rng: np.random.Generator, work: str, tracer, cores: int):
        self.spark, self.rng, self.work, self.tracer, self.cores = spark, rng, work, tracer, cores
        self.units: list[dict] = []  # one per timed unit: wall, ...
        self.checks: list[tuple[str, bool, str]] = []
        self.failed_units = 0
        self.facts: dict = {}

    def check_that(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    def unit(self, kind: str, fn):
        """Run one unit inside a ``unit.<kind>`` span; returns (result, wall)."""
        tr = self.tracer
        tr.on = tr.enabled
        tr.unit += 1
        first = len(tr.spans)
        t0 = time.perf_counter()
        sid = tr.open(f"unit.{kind}")
        try:
            out = fn()
        finally:
            tr.close(sid)
            wall = time.perf_counter() - t0
            tr.collect(first)
            tr.on = False
        return out, wall

    def check(self) -> None:
        """Checks on the program's outputs after the timed part (some
        workloads check each unit as it completes instead)."""

    @property
    def attempted(self) -> int:
        return len(self.units) + self.failed_units + len(self.checks)

    @property
    def failed(self) -> int:
        return self.failed_units + sum(not ok for _, ok, _ in self.checks)


# -- ingest_incremental -----------------------------------------------------


class IngestIncremental(Workload):
    """One long-lived lake fed by one loader loop: each cycle renames the
    next drop (``FILES`` CSVs plus metadata, a quarter of it for the
    previous drop) into incoming/, then runs run_once →
    materialize_enrichment → a fixed lake read. A drop's freshness is its
    delivery → the end of the cycle that committed it."""

    name, loop = "ingest_incremental", "closed"
    FILES, ROWS, WARMUP = 4, 1000, 2

    def setup(self, seconds: float) -> None:
        from reactionetl_etl_spark.etl.pipeline import ReactionLake

        # the warm-up drops and at most one timed drop per second
        self.plan = gen.plan_ingest(self.rng, self.WARMUP + int(seconds) + 1, self.FILES, self.ROWS)
        self.incoming = os.path.join(self.work, "incoming")
        self.moves = gen.stage_drops(self.rng, self.plan, os.path.join(self.work, "staging"))
        self.lake = ReactionLake(os.path.join(self.work, "lake"), log_dir=os.path.join(self.work, "logs"))
        self.input_bytes = 0
        # untimed warm-up cycles; the second commits the first one's late
        # metadata, so every code path of a timed cycle has run once, and
        # the bad-header files land here
        for k in range(self.WARMUP):
            self.input_bytes += gen.deliver(self.moves[k], self.incoming)
            self._cycle()
        self.delivered = self.WARMUP
        self.facts.update(files_per_drop=self.FILES, rows_per_file=self.ROWS, warmup_drops=self.WARMUP, warmup_bytes=self.input_bytes)

    def _cycle(self) -> dict:
        from pyspark.sql import functions as F

        from reactionetl_etl_spark.etl.audit import latest_status

        tr, spark, lake = self.tracer, self.spark, self.lake
        t0 = time.perf_counter()
        with tr.span("pipeline.run_once"):
            res = lake.run_once(spark, self.incoming)
        with tr.span("pipeline.materialize"):
            lake.materialize_enrichment(spark)
        t1 = time.perf_counter()
        with tr.span("lake.read"):
            per_rxn = (
                lake.fact_enriched(spark)
                .groupBy("simulation_num")
                .agg(F.count("*").alias("n"), F.avg("temperature").alias("t"), F.max("rxn_time").alias("m"))
                .collect()
            )
            status = latest_status(lake.audit(spark)).groupBy("status").count().collect()
        t2 = time.perf_counter()
        return {"load_s": t1 - t0, "read_s": t2 - t1, "files": res.files_processed, "reactions": len(per_rxn), "statuses": len(status)}

    def measure(self, seconds: float) -> None:
        self.freshness: list[float] = []
        self.input_bytes_timed = 0
        t0 = time.perf_counter()
        while self.delivered < len(self.plan.drops) and (time.perf_counter() - t0 < seconds or not self.units):
            t_in = time.perf_counter()
            self.input_bytes_timed += gen.deliver(self.moves[self.delivered], self.incoming)
            self.delivered += 1
            try:
                out, wall = self.unit("cycle", self._cycle)
            except Exception as e:  # a failed cycle is counted, the loop goes on
                self.failed_units += 1
                self.check_that("cycle_raised", False, repr(e)[:200])
                if self.failed_units > 2:
                    break
                continue
            self.units.append({"wall": wall, **out})
            self.freshness.append(time.perf_counter() - t_in)

    def check(self) -> None:
        from pyspark.sql import functions as F

        spark, lake, plan = self.spark, self.lake, self.plan.prefix(self.delivered)
        fact_rows = lake.fact(spark).count()
        q = lake.quarantine(spark)
        bad_rows = q.filter(F.col("reason").startswith("malformed row")).count()
        rejected = q.filter(F.col("reason").startswith("missing required columns")).count()
        self.check_that(
            "fact_plus_quarantined_equals_generated", fact_rows + bad_rows == plan.accepted_rows,
            f"{fact_rows}+{bad_rows} vs {plan.accepted_rows}",
        )
        self.check_that(
            "quarantined_rows_equal_injected", bad_rows == plan.malformed_rows, f"{bad_rows} vs {plan.malformed_rows}"
        )
        self.check_that("rejected_files_equal_injected", rejected == plan.rejected_files, f"{rejected} vs {plan.rejected_files}")
        man = lake.manifest(spark).agg(F.count("*").alias("n"), F.countDistinct("source_file").alias("d")).first()
        self.check_that(
            "one_manifest_row_per_file", man["n"] == man["d"] == plan.n_files, f"{man['n']}/{man['d']} vs {plan.n_files}"
        )
        term = (
            lake.audit(spark).filter(F.col("status") != "running")
            .agg(F.count("*").alias("n"), F.countDistinct("source_file").alias("d")).first()
        )
        self.check_that(
            "one_terminal_audit_event_per_file", term["n"] == term["d"] == plan.n_files,
            f"{term['n']}/{term['d']} vs {plan.n_files}",
        )
        nulls = lake.fact(spark).filter(F.col("simulation_num").isNull()).count()
        self.check_that(
            "null_simulation_num_only_while_metadata_pending", nulls == plan.pending_rows,
            f"{nulls} vs {plan.pending_rows} rows",
        )
        self.facts["rows_quarantined"] = bad_rows
        lake_bytes, lake_files = 0, {}
        for table in ("fact_sim", "dim_rxn", "audit", "manifest"):
            n = 0
            for dirpath, _, files in os.walk(os.path.join(lake.root, table)):
                for f in files:
                    if f.endswith(".parquet"):
                        n += 1
                        lake_bytes += os.path.getsize(os.path.join(dirpath, f))
            lake_files[table] = n
        self.facts["lake_files"] = lake_files
        self.facts["lake_bytes"] = lake_bytes

    def report(self) -> dict:
        loads = [u["load_s"] for u in self.units]
        total_in = self.input_bytes + self.input_bytes_timed
        t = tail(self.freshness)
        return {
            "ingest_mb_per_s": (self.input_bytes_timed / 1e6 / sum(loads)) if loads else None,
            "freshness_p50_s": median(self.freshness),
            "freshness_tail_s": t and {"value": t[1], "percentile": t[0], "n": t[2]},
            "lake_query_p50_s": median([u["read_s"] for u in self.units]),
            "cycles": len(self.units),
            "cycle_walls_s": [round(u["wall"], 3) for u in self.units],
            "lake_bytes_per_input_byte": self.facts["lake_bytes"] / max(1, total_in),
        }

    def latency(self) -> float:
        """The run's fastest freshness: host interference only ever adds
        time, and a run holds few cycles."""
        return min(self.freshness)


# -- analytics_mix ----------------------------------------------------------


class AnalyticsMix(Workload):
    """A closed loop, one client. Each pass runs a fixed set of the
    catalog's ``bench=True`` queries on seeded TPC-H-shaped tables, each
    to the noop sink, plus one ``build_training_corpus`` over a seeded
    corpus with injected near-duplicates, in a seeded order per pass."""

    name, loop = "analytics_mix", "closed"
    SF, ORIGINALS = 0.002, 400
    BUILD = "training_corpus_build"
    # relational, events, text and similarity queries; the build covers
    # the dedup, graph and contamination operators
    QUERIES = (
        "pricing_summary", "shipping_priority_top10", "totalprice_percent_rank", "events_hourly_by_type",
        "asof_click_to_purchase", "text_stats_by_lang", "cosine_topk_bruteforce", "tfidf_top_terms",
    )

    def setup(self, seconds: float) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from reactionetl_etl_spark.plans.catalog import bench_queries

        self.sf_dir = os.path.join(self.work, "sf")
        self.facts["table_rows"] = gen.write_tables(self.rng, self.sf_dir, self.SF)
        specs = bench_queries()
        self.specs = {n: specs[n] for n in self.QUERIES}
        c = self.corpus = gen.make_corpus(self.rng, self.ORIGINALS)
        src = os.path.join(self.work, "corpus")
        os.makedirs(src, exist_ok=True)
        pq.write_table(pa.table({"doc_id": c.doc_ids, "text": c.texts}), os.path.join(src, "docs.parquet"))
        pq.write_table(pa.table({"doc_id": c.eval_ids, "text": c.eval_texts}), os.path.join(src, "eval.parquet"))
        self.docs = self.spark.read.parquet(os.path.join(src, "docs.parquet"))
        self.eval_set = self.spark.read.parquet(os.path.join(src, "eval.parquet"))
        self.facts.update(documents=len(c.texts), originals=self.ORIGINALS, injected_near_dups=c.n_near_dups)
        self.n_builds = 0
        self.stats: list = []
        self.shard_stats: list = []
        self.oracle_pass()

    def oracle_pass(self) -> None:
        """The untimed set-up pass: every query once, compared with its
        DuckDB oracle (row count, columns, sorted values)."""
        import duckdb

        from reactionetl_etl_spark.sources.tables import TABLE_NAMES

        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        try:
            for name in self.rng.permutation(list(self.specs)):
                spec = self.specs[name]
                try:
                    got = spec.builder(self.spark, self.sf_dir).toPandas()
                except Exception as e:
                    self.check_that(f"oracle:{name}", False, repr(e)[:200])
                    continue
                if spec.oracle is None or "PINNED VALUES" in spec.oracle:
                    self.check_that(f"rows:{name}", len(got) > 0, f"{len(got)} rows")
                    continue
                want = con.execute(spec.oracle).fetchdf()
                ok, why = same_result(got, want)
                self.check_that(f"oracle:{name}", ok, why)
        finally:
            con.close()

    def _query(self, name: str) -> None:
        tr = self.tracer
        with tr.span("catalog.plan"):
            df = self.specs[name].builder(self.spark, self.sf_dir)
        with tr.span("catalog.exec"):
            df.write.format("noop").mode("overwrite").save()

    def _build(self) -> None:
        """One corpus build into a scratch directory, its outputs checked."""
        from reactionetl_etl_spark.pipelines.training import build_training_corpus

        out = os.path.join(self.work, f"out{self.n_builds}")
        self.n_builds += 1
        with self.tracer.span("training.build"):
            s = build_training_corpus(self.spark, self.docs, out, eval_set=self.eval_set)
        drops = s.n_quality_dropped + s.n_dup_dropped + s.n_contaminated_dropped
        self.check_that("n_input_equals_exported_plus_dropped", s.n_input == s.n_exported + drops, str(s))
        ledger = self.spark.read.parquet(f"{out}/ledger").count()
        self.check_that("ledger_rows_equal_drops", ledger == drops, f"{ledger} vs {drops}")
        inj = self.corpus.n_near_dups
        self.check_that(
            "dup_drops_near_injected", 0.85 * inj <= s.n_dup_dropped <= 1.15 * inj, f"{s.n_dup_dropped} vs {inj}"
        )
        shard = sorted(tuple(r) for r in self.spark.read.parquet(f"{out}/shard_stats").collect())
        if self.stats:
            self.check_that("identical_across_repetitions", s == self.stats[0] and shard == self.shard_stats[0])
        self.stats.append(s)
        self.shard_stats.append(shard)
        shutil.rmtree(out, ignore_errors=True)

    def measure(self, seconds: float) -> None:
        t0 = time.perf_counter()
        self.passes: list[float] = []
        kinds = [*self.specs, self.BUILD]
        # at least two passes, so every kind's fastest wall has two samples
        while time.perf_counter() - t0 < seconds or len(self.passes) < 2:
            tp = time.perf_counter()
            for kind in self.rng.permutation(kinds):
                kind = str(kind)
                run = self._build if kind == self.BUILD else lambda: self._query(kind)
                try:
                    _, wall = self.unit("build" if kind == self.BUILD else "query", run)
                except Exception as e:
                    self.failed_units += 1
                    self.check_that(f"raised:{kind}", False, repr(e)[:200])
                    continue
                self.units.append({"wall": wall, "kind": kind})
            self.passes.append(time.perf_counter() - tp)

    def _walls(self, build: bool) -> list[float]:
        return [u["wall"] for u in self.units if (u["kind"] == self.BUILD) == build]

    def report(self) -> dict:
        queries, builds = self._walls(False), self._walls(True)
        t = tail(queries)
        return {
            "query_p50_s": median(queries),
            "query_tail_s": t and {"value": t[1], "percentile": t[0], "n": t[2]},
            "query_pass_s": median(self.passes),
            "corpus_docs_per_s": self.stats[0].n_input / median(builds) if builds else None,
            "build_p50_s": median(builds),
            "passes": len(self.passes),
            "queries": len(self.specs),
            "stats": self.stats[0].__dict__ if self.stats else None,
        }

    def latency(self) -> float:
        """Geometric mean over the unit kinds (each query, the build) of
        each kind's fastest wall in the run: every kind weighs the same,
        and host interference, which only ever adds time, is left out."""
        walls: dict[str, list[float]] = {}
        for u in self.units:
            walls.setdefault(u["kind"], []).append(u["wall"])
        return geomean([min(w) for w in walls.values()])


def same_result(got, want) -> tuple[bool, str]:
    """Row count, column set and the sorted value matrix (floats to 6
    significant digits) of a Spark result against its oracle."""
    import math

    if len(got) != len(want):
        return False, f"rows {len(got)} vs {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    cols = sorted(got.columns)

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "\0null"
        if isinstance(v, (float, np.floating)):
            return f"{float(v):.6g}"
        if isinstance(v, (np.integer,)):
            return str(int(v))
        if hasattr(v, "tolist"):
            v = v.tolist()
        if isinstance(v, list):
            return "[" + ",".join(norm(x) for x in v) + "]"
        return str(v)

    rows = lambda df: sorted(tuple(norm(v) for v in r) for r in df[cols].itertuples(index=False, name=None))
    return (True, "") if rows(got) == rows(want) else (False, "values differ")


WORKLOADS = {w.name: w for w in (IngestIncremental, AnalyticsMix)}
