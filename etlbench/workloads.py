"""Workload definitions and the seeded input generator.

The generator writes a lake in the reference's layout (per-building
15-minute parquet files under upgrade=/state=/county= directories, and v2
state-level metadata files) and returns the facts the checks need: which
files each job selects, how many rows they hold, and which buildings belong
to which state and building-type group. It runs in its own process, apart
from the program's JVM.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RELEASE = "comstock_amy2018_release_2"
YEAR = "2024"
DATA_PARTITION = "timeseries_individual_buildings/by_state"
START_MS = 1514764800000  # 2018-01-01T00:00:00Z
STEP_MS = 15 * 60 * 1000

# (group, building types, weight). The weights are an assumed mix, not
# ComStock's published building counts.
GROUPS = [
    ("Office", ["LargeOffice", "MediumOffice", "SmallOffice"], 0.46),
    ("Mercantile", ["RetailStandalone", "RetailStripmall"], 0.14),
    ("Food Service", ["FullServiceRestaurant", "QuickServiceRestaurant"], 0.10),
    ("Warehouse and Storage", ["Warehouse"], 0.10),
    ("Education", ["PrimarySchool", "SecondarySchool"], 0.08),
    ("Lodging", ["SmallHotel", "LargeHotel"], 0.07),
    ("Healthcare", ["Hospital", "Outpatient"], 0.05),
]

END_USES = ["cooling", "heating", "interior_lighting", "interior_equipment", "fans", "pumps",
            "water_systems", "heat_recovery", "heat_rejection", "refrigeration", "exterior_lighting",
            "total"]
FUELS = ["electricity", "natural_gas", "district_cooling", "district_heating", "other_fuel",
         "propane", "fuel_oil", "site_energy", "net_site"]

# Which columns of a building carry readings. ComStock writes a column for
# every fuel and end use, and most buildings use few fuels, so many columns
# hold only zeros. The pattern below is assumed, not taken from the release:
# every building uses electricity; three in five also use natural gas, which
# then heats in place of electricity; one in eight uses one more fuel. A
# fuel other than electricity feeds only heating, hot water, equipment and
# its total. The pattern follows a building's position in its state, not the
# seed, so the seed moves file sizes only through the values.
OTHER_FUELS = ["district_heating", "district_cooling", "propane", "fuel_oil", "other_fuel"]
COMBUSTION_END_USES = {"heating", "water_systems", "interior_equipment", "total"}


def fuels_used(position):
    used = {"electricity", "site_energy", "net_site"}
    if position % 5 < 3:
        used.add("natural_gas")
    if position % 8 == 7:
        used.add(OTHER_FUELS[(position // 8) % len(OTHER_FUELS)])
    return used


def carries_readings(fuel, end_use, used):
    if fuel not in used:
        return False
    if fuel == "electricity":
        return not (end_use == "heating" and "natural_gas" in used)
    return fuel in ("site_energy", "net_site") or end_use in COMBUSTION_END_USES


STATES = ["AK", "DE", "VT", "HI", "CO", "WY"]

WORKLOADS = {
    # The reference's AK shape, several states: about a thousand small files
    # per state, a few end-use columns, three jobs, and a lake holding twice
    # the upgrades and one more state than the config selects.
    "etl_many_files": dict(
        disk_states=["AK", "DE", "VT", "HI"], disk_upgrades=[0, 1],
        jobs=["AK", "DE", "VT"], job_upgrade=0,
        buildings=150, counties=6, days=7, columns=4),
    # One state, one job, tens of buildings with a quarter-year series and
    # ComStock's width of float end-use columns.
    "etl_wide_rows": dict(
        disk_states=["CO"], disk_upgrades=[0],
        jobs=["CO"], job_upgrade=0,
        buildings=24, counties=2, days=28, columns=100),
}


def end_use_columns(n):
    """The first n (fuel, end use) pairs."""
    pairs = [(f, e) for f in FUELS for e in END_USES]
    if n > len(pairs):
        raise ValueError(f"at most {len(pairs)} end-use columns")
    return pairs[:n]


def column_name(fuel, end_use):
    return f"out_{fuel}_{end_use}_energy_consumption_kwh"


def upgrade_str(u):
    return "baseline" if u == 0 else f"upgrade{u:02d}"


def data_slice_dir(lake, upgrade, state):
    return os.path.join(lake, YEAR, RELEASE, DATA_PARTITION, f"upgrade={upgrade}", f"state={state}")


def metadata_file(lake, upgrade, state):
    return os.path.join(lake, "metadata", "by_state", "full", "parquet", f"state={state}",
                        f"{state}_{upgrade_str(upgrade)}.parquet")


def state_buildings(spec, state, seed):
    """Building ids, county codes and groups of one state, fixed by the seed.
    Ids of different states never overlap."""
    s = STATES.index(state)
    rng = np.random.default_rng([seed, s, 17])
    n, c = spec["buildings"], spec["counties"]
    lo = (s + 1) * 1_000_000
    ids = np.sort(rng.choice(1_000_000, size=n, replace=False) + lo).astype(np.int64)
    county = rng.integers(0, c, size=n)
    county[rng.permutation(n)[:c]] = np.arange(c)  # every county holds a building
    counties = [f"G{s + 1:02d}{(k + 1) * 20:04d}0" for k in range(c)]
    weights = np.array([g[2] for g in GROUPS])
    group = rng.choice(len(GROUPS), size=n, p=weights / weights.sum())
    return ids, [counties[k] for k in county], [GROUPS[g][0] for g in group], group


def generate(spec, lake, seed):
    """Write the lake and return what the checks need."""
    pairs = end_use_columns(spec["columns"])
    cols = [column_name(f, e) for f, e in pairs]
    rows = spec["days"] * 96
    ts = pa.array(START_MS + STEP_MS * np.arange(rows, dtype=np.int64), type=pa.timestamp("ms", tz="UTC"))
    day = (np.arange(rows) % 96) / 96.0
    shape = 1.0 + 0.5 * np.sin(2 * np.pi * day)[:, None]
    facts = {"columns": cols, "rows_per_building": rows, "hours_per_building": rows // 4,
             "jobs": [], "states": {}}
    for state in spec["disk_states"]:
        ids, counties, groups, group_idx = state_buildings(spec, state, seed)
        facts["states"][state] = {"ids": ids.tolist(), "groups": groups}
        for upgrade in spec["disk_upgrades"]:
            rng = np.random.default_rng([seed, STATES.index(state), upgrade])
            slice_dir = data_slice_dir(lake, upgrade, state)
            files = []
            scale = rng.uniform(0.5, 50.0, size=(len(ids), len(cols)))
            for b, bldg in enumerate(ids):
                used = fuels_used(b)
                mask = np.array([carries_readings(f, e, used) for f, e in pairs])
                values = shape * (scale[b] * mask) * (1.0 + 0.1 * rng.standard_normal((rows, len(cols))))
                table = pa.table([ts, pa.array(np.full(rows, bldg, dtype=np.int64))]
                                 + [pa.array(values[:, k]) for k in range(len(cols))],
                                 names=["timestamp", "bldg_id"] + cols)
                d = os.path.join(slice_dir, f"county={counties[b]}")
                os.makedirs(d, exist_ok=True)
                path = os.path.join(d, f"{bldg}-{upgrade}.parquet")
                pq.write_table(table, path)
                files.append(path)
            types = [GROUPS[g][1][int(i) % len(GROUPS[g][1])] for g, i in zip(group_idx, ids)]
            meta = pa.table({
                "bldg_id": pa.array(ids),
                "upgrade": pa.array(np.full(len(ids), upgrade, dtype=np.int64)),
                "in.state": pa.array([state] * len(ids)),
                "in.county": pa.array(counties),
                "in.county_name": pa.array([f"{state}, County {c[-5:-1]}" for c in counties]),
                "in.comstock_building_type": pa.array(types),
                "in.comstock_building_type_group": pa.array(groups),
                "in.sqft": pa.array(np.round(rng.uniform(1000, 200000, size=len(ids)))),
                "out.site_energy.total.energy_consumption_intensity": pa.array(rng.uniform(20, 400, size=len(ids))),
            })
            mpath = metadata_file(lake, upgrade, state)
            os.makedirs(os.path.dirname(mpath), exist_ok=True)
            pq.write_table(meta, mpath)
            if state in spec["jobs"] and upgrade == spec["job_upgrade"]:
                facts["jobs"].append({"state": state, "files": files, "metadata": mpath,
                                      "buildings": len(ids), "rows": len(ids) * rows})
    facts["jobs"].sort(key=lambda j: spec["jobs"].index(j["state"]))
    return facts


def etl_config(spec, lake, out_dir):
    """The reference's etl_config: one job per selected state."""
    return {
        "settings": {"base_partition": lake, "data_partition_in_release": DATA_PARTITION,
                     "output_dir": out_dir},
        "job_specific": [
            {"release_name": RELEASE, "release_year": YEAR, "state": s,
             "upgrades": [spec["job_upgrade"]],
             "metadata_root_dir": os.path.join(lake, "metadata"),
             "relative_metadata_prefix_type": 2}
            for s in spec["jobs"]],
    }
