"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
seed, so the same seed gives byte-identical inputs. The program under
test only ever sees the files written here.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field

import numpy as np

RAW_HEADER = [
    "SimulationID",
    "CA (mol/m^3)",
    "CB (mol/m^3)",
    "CC (mol/m^3)",
    "CD (mol/m^3)",
    "T (K)",
    "Tsensor (K)",
    "t (sec)",
]
# the column a bad-header file lacks (a required one, so the file is rejected)
DROPPED_COLUMN = "Tsensor (K)"
# the sf documents' vocabulary: 30 engine words plus the articles
VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()


# -- ingest drops -----------------------------------------------------------


@dataclass
class CsvSpec:
    sid: str
    rows: int
    malformed: list[int] = field(default_factory=list)  # row indexes made non-numeric
    bad_header: bool = False


@dataclass
class Drop:
    """One delivery into incoming/<day>/: CSVs plus the metadata JSONs
    that arrive with it (a late JSON belongs to an earlier drop's CSV)."""

    index: int
    day: str
    csvs: list[CsvSpec]
    jsons: list[str]  # simulation ids


@dataclass
class IngestPlan:
    drops: list[Drop]

    def csvs(self) -> list[CsvSpec]:
        return [c for d in self.drops for c in d.csvs]

    @property
    def rejected_files(self) -> int:
        return sum(c.bad_header for c in self.csvs())

    @property
    def malformed_rows(self) -> int:
        return sum(len(c.malformed) for c in self.csvs() if not c.bad_header)

    @property
    def accepted_rows(self) -> int:
        """Data rows in files that pass the header check (fact + quarantine)."""
        return sum(c.rows for c in self.csvs() if not c.bad_header)

    @property
    def n_files(self) -> int:
        return sum(len(d.csvs) + len(d.jsons) for d in self.drops)

    @property
    def pending_rows(self) -> int:
        """Data rows of accepted files whose metadata has not arrived yet
        (the fact keeps them with a NULL ``simulation_num`` until it does)."""
        landed = {s for d in self.drops for s in d.jsons}
        return sum(c.rows - len(c.malformed) for c in self.csvs() if not c.bad_header and c.sid not in landed)

    def prefix(self, k: int) -> "IngestPlan":
        """The first ``k`` drops (the ones a run delivered)."""
        return IngestPlan(self.drops[:k])


def plan_ingest(
    rng: np.random.Generator,
    n_drops: int,
    files_per_drop: int,
    rows_per_file: int,
    drops_per_day: int = 8,
    bad_header_drops: tuple[int, ...] = (0, 1),
    malformed_row_share: float = 0.005,
) -> IngestPlan:
    """Drop schedule with a fixed shape and seeded content. Every drop
    holds back a quarter of its metadata, which arrives with the next
    drop, so every cycle after the first commits a late-metadata update;
    one seeded file per drop carries ~``malformed_row_share`` malformed
    rows; one seeded file in each of ``bad_header_drops`` lacks a required
    column. The last drop holds nothing back. Every seed gives the same
    shape, so runs on different seeds do the same work."""
    n_malformed_rows = max(1, round(rows_per_file * malformed_row_share))
    n_late = max(1, files_per_drop // 4)
    drops: list[Drop] = []
    held: list[str] = []
    base = int(rng.integers(1, 2**62))
    for d in range(n_drops):
        bad = int(rng.integers(files_per_drop)) if d in bad_header_drops else -1
        malformed_at = int(rng.integers(files_per_drop))
        if malformed_at == bad:
            malformed_at = (bad + 1) % files_per_drop
        csvs = []
        for i in range(files_per_drop):
            sid = str(uuid.UUID(int=base + d * files_per_drop + i))
            malformed = []
            if i == malformed_at:
                malformed = sorted(rng.choice(rows_per_file, size=n_malformed_rows, replace=False).tolist())
            csvs.append(CsvSpec(sid, rows_per_file, malformed, bad_header=i == bad))
        jsons = held + [c.sid for c in csvs]
        held = []
        if d < n_drops - 1:
            held = jsons[-n_late:]
            jsons = jsons[:-n_late]
        day = f"2026-03-{d // drops_per_day + 1:02d}"
        drops.append(Drop(d, day, csvs, jsons))
    return IngestPlan(drops)


def _csv_templates(rng: np.random.Generator, rows: int, k: int = 8) -> list[list[str]]:
    """``k`` seeded row bodies (one line per row, ``@SID@`` placeholder):
    a first-order A+B→C+D run from random initial conditions."""
    out = []
    t = np.arange(rows, dtype=np.float64) * float(rng.uniform(0.5, 2.0))
    for _ in range(k):
        ca0, cb0 = rng.uniform(5, 15), rng.uniform(4, 12)
        rate, temp0 = rng.uniform(1e-4, 1e-3), rng.uniform(290, 340)
        conv = 1.0 - np.exp(-rate * t)
        ca, cb = ca0 * (1 - conv), cb0 - ca0 * conv * 0.8
        cc, cd = ca0 * conv, ca0 * conv * 0.5
        temp = temp0 + 20 * conv + rng.normal(0, 0.05, rows)
        sensor = temp + rng.normal(0.2, 0.05, rows)
        out.append(
            [
                f"@SID@,{a:.4f},{b:.4f},{c:.4f},{e:.4f},{T:.2f},{s:.2f},{x:.1f}"
                for a, b, c, e, T, s, x in zip(ca, cb, cc, cd, temp, sensor, t)
            ]
        )
    return out


def _csv_text(spec: CsvSpec, body: list[str]) -> str:
    header = [h for h in RAW_HEADER if not (spec.bad_header and h == DROPPED_COLUMN)]
    lines = list(body[: spec.rows])
    for i in spec.malformed:
        cells = lines[i].split(",")
        cells[5] = "NOT_A_NUMBER"  # T (K)
        lines[i] = ",".join(cells)
    if spec.bad_header:
        drop_at = RAW_HEADER.index(DROPPED_COLUMN)
        lines = [",".join(c for j, c in enumerate(ln.split(",")) if j != drop_at) for ln in lines]
    return ",".join(header) + "\n" + "\n".join(lines).replace("@SID@", spec.sid) + "\n"


def _metadata_text(sid: str, n: int, day: str) -> str:
    return json.dumps(
        {
            "simulation_id": sid,
            "reaction_name": f"rxn_{n % 97}",
            "activation_energy (J/mol)": 52000.0 + n,
            "CA0_(mol/m^3)": 10.0,
            "CB0_(mol/m^3)": 8.0,
            "T0_(K)": 300.0,
            "date_run": day,
            "stop_reason": "steady_state",
            "stop_time_(s)": 100.0 + n,
        }
    )


def stage_drops(rng: np.random.Generator, plan: IngestPlan, staging: str) -> list[list[tuple[str, str]]]:
    """Write every drop's files under ``staging`` (temporary names) and
    return, per drop, the (staged path, final relative path) renames that
    deliver it. Delivering is then a rename, so a drop's freshness does
    not include file formatting."""
    rows = max(c.rows for c in plan.csvs())
    bodies = _csv_templates(rng, rows)
    os.makedirs(staging, exist_ok=True)
    moves: list[list[tuple[str, str]]] = []
    n = 0
    for drop in plan.drops:
        mv = []
        for spec in drop.csvs:
            tmp = os.path.join(staging, f"reaction{spec.sid}.csv.tmp")
            with open(tmp, "w") as fh:
                fh.write(_csv_text(spec, bodies[int(rng.integers(len(bodies)))]))
            mv.append((tmp, os.path.join(drop.day, f"reaction{spec.sid}.csv")))
        for sid in drop.jsons:
            tmp = os.path.join(staging, f"metadata_{sid}.json.tmp")
            with open(tmp, "w") as fh:
                fh.write(_metadata_text(sid, n, drop.day))
            n += 1
            mv.append((tmp, os.path.join(drop.day, f"metadata_{sid}.json")))
        moves.append(mv)
    return moves


def deliver(moves: list[tuple[str, str]], incoming: str) -> int:
    """Rename one staged drop into ``incoming``; returns its bytes."""
    total = 0
    for tmp, rel in moves:
        dst = os.path.join(incoming, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        total += os.path.getsize(tmp)
        os.rename(tmp, dst)
    return total


# -- training corpus --------------------------------------------------------


@dataclass
class Corpus:
    doc_ids: np.ndarray
    texts: list[str]
    eval_ids: np.ndarray
    eval_texts: list[str]
    n_near_dups: int  # injected copies whose source passes the quality rules


def _doc(rng: np.random.Generator, n_words: int) -> list[str]:
    return [VOCAB[i] for i in rng.integers(len(VOCAB), size=n_words)]


def make_corpus(
    rng: np.random.Generator,
    n_originals: int,
    near_dup_share: float = 0.25,
    recombined_share: float = 0.25,
    short_share: float = 0.05,
    eval_every: int = 17,
) -> Corpus:
    """Originals in the sf documents' shape (30-100 words over the same
    vocabulary; ``short_share`` of them under the 20-token quality floor),
    plus ``near_dup_share`` lightly edited copies of distinct passing
    originals (about one word in 40 replaced, so 3-shingle Jaccard stays
    near 0.8) and ``recombined_share`` first-half/second-half splices of two
    different originals (Jaccard about 1/3 to each, so not duplicates).
    The eval set is a seeded 1/``eval_every`` sample of the originals."""
    originals = [
        _doc(rng, int(rng.integers(8, 19)) if rng.random() < short_share else int(rng.integers(30, 100)))
        for _ in range(n_originals)
    ]
    passing = [i for i, d in enumerate(originals) if len(d) >= 20]
    n_dups = min(len(passing), round(n_originals * near_dup_share))
    texts = [" ".join(d) for d in originals]
    for i in rng.choice(passing, size=n_dups, replace=False):
        words = list(originals[i])
        for j in rng.choice(len(words), size=max(1, len(words) // 40), replace=False):
            words[j] = VOCAB[int(rng.integers(len(VOCAB)))]
        texts.append(" ".join(words))
    for _ in range(round(n_originals * recombined_share)):
        a, b = rng.choice(passing, size=2, replace=False)
        wa, wb = originals[a], originals[b]
        texts.append(" ".join(wa[: len(wa) // 2] + wb[len(wb) // 2 :]))
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    eval_idx = np.sort(rng.choice(n_originals, size=max(1, n_originals // eval_every), replace=False))
    return Corpus(
        doc_ids=np.arange(len(texts), dtype=np.int64),
        texts=texts,
        eval_ids=np.arange(len(eval_idx), dtype=np.int64) + 10_000_000,
        eval_texts=[" ".join(originals[i]) for i in eval_idx],
        n_near_dups=n_dups,
    )


# -- catalog tables ---------------------------------------------------------


def write_tables(rng: np.random.Generator, out_dir: str, sf: float) -> dict[str, int]:
    """TPC-H-shaped tables plus ``events``, ``documents`` and ``embeddings``
    in the layout and value domains the catalog reads (``<name>.parquet``
    under ``out_dir``); returns rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = max(150, int(150_000 * sf)), max(10, int(10_000 * sf)), max(200, int(200_000 * sf))
    n_ord, n_ev, n_docs, n_emb = n_cust * 10, max(1000, int(1_000_000 * sf)), max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    day0 = np.datetime64("1995-01-01", "us")
    day_us = np.int64(86_400_000_000)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"], n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(["large", "hot", "blue", "old", "cold", "red", "small", "new"], n_part),
                    rng.choice(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"], n_part),
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        },
    }
    o_date = day0 + rng.integers(0, 2404, n_ord) * day_us
    tables["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": o_date,
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }
    lines_per = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": o_date[l_order] + rng.integers(1, 122, n_li) * day_us,
    }
    ev_t0 = np.datetime64("2024-01-01", "us")
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_t0 + np.sort(rng.integers(0, 30 * int(day_us), n_ev)),
        "user_id": rng.integers(0, max(150, n_ev // 66), n_ev),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    words = [_doc(rng, int(rng.integers(8, 100))) for _ in range(n_docs)]
    for i in rng.choice(n_docs, size=n_docs // 20, replace=False):  # repeated-span docs
        words[i] = words[i] + words[i][:10] + ["dup"]
    texts = [" ".join(w) for w in words]
    tables["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    emb = rng.normal(0, 1, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }
    rows = {}
    for name, cols in tables.items():
        t = pa.table({k: v if isinstance(v, pa.Array) else pa.array(v) for k, v in cols.items()})
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
