"""Synthetic incoming-directory fixtures per FIXTURES.md §A.

Deterministic (seeded) generators for raw simulation CSVs and metadata
JSONs matching the reference's raw formats, including the negative
variants: missing required column, extra column, pandas index artifact,
malformed numeric row, invalid metadata.
"""

from __future__ import annotations

import json
import os
import uuid

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


def sim_uuid(n: int) -> str:
    return str(uuid.UUID(int=n))


def write_reaction_csv(
    day_dir: str,
    sim_num: int,
    n_rows: int = 20,
    with_artifact: bool = False,
    drop_col: str | None = None,
    extra_col: bool = False,
    malformed_row_at: int | None = None,
) -> str:
    sid = sim_uuid(sim_num)
    header = list(RAW_HEADER)
    if drop_col:
        header.remove(drop_col)
    if extra_col:
        header.append("Notes")
    if with_artifact:
        header = ["Unnamed: 0"] + header
    lines = [",".join(header)]
    for i in range(n_rows):
        vals: dict[str, str] = {
            "SimulationID": sid,
            "CA (mol/m^3)": f"{10.0 - 0.05 * i:.4f}",
            "CB (mol/m^3)": f"{8.0 - 0.04 * i:.4f}",
            "CC (mol/m^3)": f"{0.05 * i:.4f}",
            "CD (mol/m^3)": f"{0.025 * i:.4f}",
            "T (K)": f"{300.0 + 0.1 * i:.2f}",
            "Tsensor (K)": f"{300.2 + 0.1 * i:.2f}",
            "t (sec)": f"{float(i):.1f}",
            "Notes": "ok",
            "Unnamed: 0": str(i),
        }
        if malformed_row_at is not None and i == malformed_row_at:
            vals["T (K)"] = "NOT_A_NUMBER"
        lines.append(",".join(vals[h] for h in header))
    os.makedirs(day_dir, exist_ok=True)
    path = os.path.join(day_dir, f"reaction{sid}.csv")
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return path


def write_metadata_json(
    day_dir: str,
    sim_num: int,
    date_run: str = "2026-01-05",
    missing_field: str | None = None,
    bad_value: bool = False,
) -> str:
    sid = sim_uuid(sim_num)
    doc = {
        "simulation_id": sid,
        "reaction_name": f"rxn_{sim_num}",
        "activation_energy (J/mol)": 52000.0 + sim_num,
        "CA0_(mol/m^3)": 10.0,
        "CB0_(mol/m^3)": 8.0,
        "T0_(K)": 300.0,
        "date_run": date_run,
        "stop_reason": "steady_state",
        "stop_time_(s)": 120.0 + sim_num,
    }
    if missing_field:
        del doc[missing_field]
    if bad_value:
        doc["activation_energy (J/mol)"] = "not-a-float"
    os.makedirs(day_dir, exist_ok=True)
    path = os.path.join(day_dir, f"metadata_{sid}.json")
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)
    return path


def write_incoming(root, n_rows: int = 20) -> dict[str, str]:
    """3 valid sims across 2 days + every negative fixture class, under
    the directory `root` (a pathlib.Path); name → path."""
    d1, d2 = str(root / "2026-01-05"), str(root / "2026-01-06")
    return {
        "ok1": write_reaction_csv(d1, 1, n_rows),
        "ok2": write_reaction_csv(d1, 2, n_rows, with_artifact=True),
        "ok3": write_reaction_csv(d2, 3, n_rows, extra_col=True),
        "missing_col": write_reaction_csv(d2, 4, n_rows, drop_col="Tsensor (K)"),
        "malformed": write_reaction_csv(d2, 5, n_rows, malformed_row_at=7),
        "meta1": write_metadata_json(d1, 1, "2026-01-05"),
        "meta2": write_metadata_json(d1, 2, "2026-01-05"),
        "meta3": write_metadata_json(d2, 3, "2026-01-06"),
        "meta_bad": write_metadata_json(d2, 6, "2026-01-06", bad_value=True),
        "meta_missing": write_metadata_json(d2, 7, missing_field="reaction_name"),
    }
