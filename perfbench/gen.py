#!/usr/bin/env python3
"""Seeded input generator for the `nem_week` workload.

``nem(dir, seed)`` writes the NEM pipeline's raw API inputs for the
reference's published fleet: 514 facilities (419 operating) in 5 regions,
unit power and emissions as the OE API's nested JSON (25 units per file),
plus region price and demand, over twelve hours of five-minute timestamps
(144). It uses numpy and plain JSON, never the engine under test.

The registry workloads need no generator: they read a copy of the sf0.01
test tables (TESTDATA.md) kept in ``perfbench/data``, and ten copies of
them made by ``tools/scale_gen.py``.

Usage: python3 gen.py <dir> <seed>
"""
import json
import os
import sys

import numpy as np

REGIONS = ["NSW1", "QLD1", "VIC1", "SA1", "TAS1"]
FUELTECHS = [  # (id, label, renewable); "-" labels are dropped by the catalog
    ("coal_black", "Coal (Black)", False), ("coal_brown", "Coal (Brown)", False),
    ("gas_ccgt", "Gas (CCGT)", False), ("gas_ocgt", "Gas (OCGT)", False),
    ("gas_recip", "Gas (Reciprocating)", False), ("gas_steam", "Gas (Steam)", False),
    ("distillate", "Distillate", False), ("hydro", "Hydro", True),
    ("pumps", "Pumps", True), ("wind", "Wind", True),
    ("solar_utility", "Solar (Utility)", True), ("solar_rooftop", "Solar (Rooftop)", True),
    ("battery_charging", "Battery (Charging)", True),
    ("battery_discharging", "Battery (Discharging)", True),
    ("bioenergy_biomass", "Bioenergy (Biomass)", True),
    ("bioenergy_biogas", "Bioenergy (Biogas)", True), ("nuclear", "-", False),
    ("interconnector", "-", False)]
START = np.datetime64("2025-10-13T00:00")


def nem(dir_, seed, n_facilities=514, n_operating=419, n_ts=144):
    """Raw inputs plus `manifest.json` (counts and the first timestamp).

    The default span is twelve hours (144 five-minute timestamps); the
    full week (2,016) costs about 40 s per warm pass on 4 cores.
    """
    rng = np.random.default_rng(int(seed))
    os.makedirs(dir_, exist_ok=True)
    codes = [f"F{i:04d}" for i in range(n_facilities)]
    operating = set(rng.choice(n_facilities, n_operating, replace=False).tolist())
    facilities, op_units = [], []
    for i, code in enumerate(codes):
        units = []
        for u in range(int(rng.integers(1, 3))):
            ft = FUELTECHS[int(rng.integers(0, len(FUELTECHS)))][0]
            status = "operating" if (i in operating and u == 0) else "retired"
            units.append({"code": f"{code}U{u}", "fueltech_id": ft, "status_id": status,
                          "capacity_registered": round(float(rng.uniform(5, 700)), 1),
                          "dispatch_type": "GENERATOR"})
            if status == "operating":
                op_units.append(f"{code}U{u}")
        facilities.append({
            "code": code, "name": f"Facility {code}", "network_id": "NEM",
            "network_region": REGIONS[int(rng.integers(0, 5))],
            "location": {"lat": round(float(rng.uniform(-43, -17)), 4),
                         "lng": round(float(rng.uniform(135, 153)), 4)},
            "units": units})
    with open(os.path.join(dir_, "facilities.json"), "w") as f:
        for fac in facilities:
            f.write(json.dumps(fac) + "\n")
    with open(os.path.join(dir_, "fueltech.json"), "w") as f:
        for fid, label, ren in FUELTECHS:
            f.write(json.dumps({"fueltech_id": fid, "label": label, "renewable": ren}) + "\n")
    local = START + np.arange(n_ts) * np.timedelta64(5, "m")
    stamps = [f'"{str(t)}:00+10:00"' for t in local]

    def series(key, name, values):
        pts = ",".join(f"[{s},{v:.3f}]" for s, v in zip(stamps, values.tolist()))
        return f'{{"columns":{{"{key}":"{name}"}},"data":[{pts}]}}'

    for metric, lo, hi in (("power", 0, 650), ("emissions", 0, 600)):
        os.makedirs(os.path.join(dir_, metric), exist_ok=True)
        for fi in range(0, len(op_units), 25):
            block = op_units[fi:fi + 25]
            vals = rng.uniform(lo, hi, (len(block), n_ts))
            with open(os.path.join(dir_, metric, f"part-{fi // 25:03d}.json"), "w") as f:
                f.write('{"results":[' + ",".join(
                    series("unit_code", u, vals[k]) for k, u in enumerate(block)) + "]}\n")
    for metric, lo, hi in (("price", -50, 300), ("demand", 500, 9000)):
        os.makedirs(os.path.join(dir_, metric), exist_ok=True)
        vals = rng.uniform(lo, hi, (5, n_ts))
        with open(os.path.join(dir_, metric, "part-000.json"), "w") as f:
            f.write('{"results":[' + ",".join(
                series("region_code", r, vals[k]) for k, r in enumerate(REGIONS)) + "]}\n")
    n_fac = len({u[:5] for u in op_units})
    with open(os.path.join(dir_, "manifest.json"), "w") as f:
        json.dump({"facilities": n_fac, "units": len(op_units), "timestamps": n_ts,
                   "events": (n_fac + len(REGIONS)) * n_ts,
                   "start_epoch_s": int((START - np.timedelta64(10, "h")).astype("datetime64[s]").astype(int))}, f)


if __name__ == "__main__":
    nem(sys.argv[1], sys.argv[2])
