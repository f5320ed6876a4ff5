"""Seeded input generators for the benchmark.

Everything here is a pure function of (seed, size): the same arguments give
byte-identical parquet files. Two fixture kinds:

* OEDI-shaped ETL source -- hive layout ``upgrade=<u>/state=<ST>/`` with one
  building per file, the 51 ``SchemaDefs`` measures on a 15-minute grid, the
  per-state metadata pair under the names ``PartitionPaths.metadataKeys``
  builds, and exactly one corrupt ``.parquet`` file (the reference's AK run
  had one discrepancy).
* a ``documents`` corpus shaped like the driver test data (doc_id, text,
  lang, source, n_chars) for the ``x0_pipeline`` flagship.

Measure values are closed-form: ``building_values`` recomputes any
building's series, so the checker can derive expected hourly means without
reading the engine's output.
"""

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# cached inputs are keyed by this file's content too, so an edited generator
# never reuses inputs an older version wrote
with open(__file__, "rb") as _fh:
    VERSION = hashlib.sha256(_fh.read()).hexdigest()[:10]

STATE = "AK"
STEP_S = 15 * 60
START_US = 1514764800 * 1_000_000  # 2018-01-01T00:00:00Z, the ComStock year

# (fuel, end uses) in SchemaDefs order; other_fuel.water_systems has no
# _intensity column, as in the reference's aggregation list.
FUEL_END_USES = [
    ("district_cooling", ["cooling", "total"]),
    ("district_heating", ["heating", "total", "water_systems"]),
    ("electricity", ["cooling", "exterior_lighting", "fans", "heat_recovery",
                     "heat_rejection", "heating", "interior_equipment",
                     "interior_lighting", "pumps", "refrigeration", "total",
                     "water_systems"]),
    ("natural_gas", ["heating", "interior_equipment", "total", "water_systems"]),
    ("other_fuel", ["cooling", "heating", "total", "water_systems"]),
    ("site_energy", ["total"]),
]


def energy_columns():
    cols = []
    for fuel, uses in FUEL_END_USES:
        for u in uses:
            base = f"out.{fuel}.{u}.energy_consumption"
            cols.append(base)
            if not (fuel == "other_fuel" and u == "water_systems"):
                cols.append(base + "_intensity")
    return cols


ENERGY_COLUMNS = energy_columns()
assert len(ENERGY_COLUMNS) == 51

COUNTIES = ["AK, Ketchikan Gateway Borough", "AK, Anchorage Municipality",
            "AK, Fairbanks North Star Borough", "AK, Juneau City and Borough"]
TYPE_GROUPS = [
    ("Hospital", "Healthcare"), ("Outpatient", "Healthcare"),
    ("PrimarySchool", "Education"), ("SecondarySchool", "Education"),
    ("FullServiceRestaurant", "Food Service"),
    ("QuickServiceRestaurant", "Food Service"),
    ("LargeHotel", "Lodging"), ("SmallHotel", "Lodging"),
    ("RetailStandalone", "Mercantile"), ("RetailStripmall", "Mercantile"),
    ("LargeOffice", "Office"), ("MediumOffice", "Office"),
    ("SmallOffice", "Office"), ("Warehouse", "Warehouse and Storage"),
]


def upgrade_label(u):
    if u == 0:
        return "baseline"
    if 1 <= u <= 9:
        return f"upgrade0{u}"
    return f"upgrade{u}"


def _rng(*key):
    return np.random.default_rng([int(k) for k in key])


def building_profile(seed, bldg):
    """Static attributes of one building: type, county, floor area and the
    fuels it uses (unused fuels are all-zero columns, as in real data)."""
    r = _rng(seed, 7, bldg)
    # every fourth building sits in Ketchikan and every eleventh is a
    # Hospital, so all three saved queries return rows at any size
    county = COUNTIES[0] if bldg % 4 == 1 else COUNTIES[int(r.integers(0, 4))]
    t = int(r.integers(0, len(TYPE_GROUPS)))
    if bldg % 11 == 1:
        t = 0  # Hospital
    btype, group = TYPE_GROUPS[t]
    # the fuel mix follows the building number, not the seed: all-zero
    # columns dominate the output's compressed size, so a seeded mix would
    # make output bytes differ from seed to seed
    return {
        "county": county, "type": btype, "group": group,
        "sqft": float(np.round(r.uniform(5_000, 200_000), 0)),
        "gas": bldg % 10 < 7,
        "district": bldg % 7 == 3,
        "other_fuel": bldg % 10 == 5,
        "scale": r.uniform(0.5, 2.0, size=64),
        "phase": r.uniform(0, 2 * np.pi, size=64),
    }


def building_values(seed, bldg, upgrade, steps):
    """(steps x 51) float64 matrix of one building's 15-minute measures for
    one upgrade, in ENERGY_COLUMNS order. Smooth daily and seasonal curves
    plus seeded noise, rounded the way metered kWh are."""
    p = building_profile(seed, bldg)
    t = np.arange(steps, dtype=np.float64)
    day = 2 * np.pi * t / 96.0
    year = 2 * np.pi * t / 35040.0
    noise = _rng(seed, 11, bldg, upgrade).standard_normal((steps, 64))
    factor = 0.85 ** upgrade  # each upgrade trims HVAC load
    sqft = p["sqft"]
    unit = sqft / 50_000.0
    uses = {}
    enabled = {"district_cooling": p["district"], "district_heating": p["district"],
               "electricity": True, "natural_gas": p["gas"],
               "other_fuel": p["other_fuel"]}
    k = 0
    for fuel, end_uses in FUEL_END_USES:
        if fuel == "site_energy":
            continue
        parts = []
        for u in end_uses:
            if u == "total":
                continue
            k += 1
            if not enabled[fuel]:
                v = np.zeros(steps)
            else:
                hvac = u in ("cooling", "heating", "fans", "pumps",
                             "heat_recovery", "heat_rejection")
                season = np.cos(year + (np.pi if u == "cooling" else 0.0))
                v = p["scale"][k] * unit * (
                    1.0 + 0.6 * np.sin(day + p["phase"][k])
                    + (0.5 * season if hvac else 0.1 * season)
                    + 0.08 * noise[:, k])
                v = np.maximum(v, 0.0) * (factor if hvac else 1.0)
                v = np.round(v, 3)
            uses[(fuel, u)] = v
            parts.append(v)
        uses[(fuel, "total")] = np.round(np.sum(parts, axis=0), 3)
    uses[("site_energy", "total")] = np.round(
        sum(uses[(f, "total")] for f, _ in FUEL_END_USES if f != "site_energy"), 3)
    out = np.empty((steps, len(ENERGY_COLUMNS)))
    i = 0
    for fuel, end_uses in FUEL_END_USES:
        for u in end_uses:
            out[:, i] = uses[(fuel, u)]
            i += 1
            if not (fuel == "other_fuel" and u == "water_systems"):
                out[:, i] = np.round(uses[(fuel, u)] / sqft, 7)
                i += 1
    return out


_TS_TYPE = pa.timestamp("us", tz="UTC")


def _building_table(seed, bldg, upgrade, steps):
    vals = building_values(seed, bldg, upgrade, steps)
    ts = START_US + np.arange(steps, dtype=np.int64) * STEP_S * 1_000_000
    arrays = [pa.array(ts, type=_TS_TYPE),
              pa.array(np.full(steps, bldg, dtype=np.int64))]
    arrays += [pa.array(vals[:, i]) for i in range(vals.shape[1])]
    return pa.Table.from_arrays(arrays, names=["timestamp", "bldg_id"] + ENERGY_COLUMNS)


def _write_metadata(meta_root, seed, buildings, upgrade):
    d = os.path.join(meta_root, f"state={STATE}", "parquet")
    os.makedirs(d, exist_ok=True)
    profs = [building_profile(seed, b) for b in buildings]
    basic = {
        "bldg_id": pa.array(buildings, type=pa.int64()),
        "upgrade": pa.array([upgrade] * len(buildings), type=pa.int64()),
        "in.state": [STATE] * len(buildings),
        "in.county_name": [p["county"] for p in profs],
        "in.comstock_building_type": [p["type"] for p in profs],
        "in.comstock_building_type_group": [p["group"] for p in profs],
        "in.sqft": [p["sqft"] for p in profs],
    }
    label = upgrade_label(upgrade)
    pq.write_table(pa.table(basic), os.path.join(
        d, f"{STATE}_{label}_basic_metadata_and_annual_results.parquet"))
    full = dict(basic)
    full["out.site_energy.total.energy_consumption.kwh"] = [
        float(_rng(seed, 13, b, upgrade).uniform(1e4, 1e6)) for b in buildings]
    pq.write_table(pa.table(full), os.path.join(
        d, f"{STATE}_{label}_metadata_and_annual_results.parquet"))


def _fresh(path):
    """True when `path` holds a complete fixture (cache hit)."""
    return os.path.exists(os.path.join(path, "expected.json"))


def _evict(parent, keep, prefix):
    """Keep only the `keep` most recently used fixtures of one kind."""
    if not os.path.isdir(parent):
        return
    dirs = [os.path.join(parent, d) for d in os.listdir(parent) if d.startswith(prefix)]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def oedi(root, seed, buildings, steps, upgrades, corrupt_upgrade, sample_from):
    """Generate (or reuse) an OEDI-shaped source under `root`.

    Returns the fixture dir; `expected.json` in it holds the generator's
    own account of the input: file and row counts per upgrade, the planted
    corrupt file, and a sample of (upgrade, bldg, hour, column) -> mean drawn
    from the upgrades in `sample_from`."""
    name = (f"oedi-{VERSION}-s{seed}-b{buildings}-t{steps}-u{''.join(map(str, upgrades))}"
            f"-c{corrupt_upgrade}-x{''.join(map(str, sample_from))}")
    path = os.path.join(root, name)
    if _fresh(path):
        os.utime(path)
        return path
    _evict(root, 3, "oedi-")
    shutil.rmtree(path, ignore_errors=True)
    src = os.path.join(path, "src")
    meta = os.path.join(path, "meta")
    bldgs = list(range(1, buildings + 1))
    r = _rng(seed, 3)
    bad_bldg = int(r.integers(1, buildings + 1))
    corrupt = None
    for u in upgrades:
        d = os.path.join(src, f"upgrade={u}", f"state={STATE}")
        os.makedirs(d, exist_ok=True)
        for b in bldgs:
            f = os.path.join(d, f"{b}-{u}.parquet")
            if u == corrupt_upgrade and b == bad_bldg:
                # magic bytes but no footer: readers fail on it, listings
                # still count it
                with open(f, "wb") as fh:
                    fh.write(b"PAR1" + _rng(seed, 5).bytes(4096))
                corrupt = f
            else:
                pq.write_table(_building_table(seed, b, u, steps), f,
                               compression="snappy", use_dictionary=True)
        _write_metadata(meta, seed, bldgs, u)
    hours = steps // 4
    valid = {u: [b for b in bldgs if not (u == corrupt_upgrade and b == bad_bldg)]
             for u in upgrades}
    samples = []
    for i in range(8):
        u = sample_from[i % len(sample_from)]
        b = valid[u][int(r.integers(0, len(valid[u])))]
        h = int(r.integers(0, hours))
        c = int(r.integers(0, len(ENERGY_COLUMNS)))
        v = building_values(seed, b, u, steps)[4 * h:4 * h + 4, c]
        samples.append({"upgrade": u, "bldg_id": b, "hour": h,
                        "ts_us": START_US + h * 3600 * 1_000_000,
                        "column": ENERGY_COLUMNS[c] + "_mean",
                        "mean": float(v.mean())})
    profs = {b: building_profile(seed, b) for b in bldgs}
    expected = {
        "seed": seed, "state": STATE, "buildings": buildings, "steps": steps,
        "upgrades": upgrades, "hours": hours,
        "files": {str(u): len(bldgs) for u in upgrades},
        "valid_files": {str(u): len(valid[u]) for u in upgrades},
        "corrupt_file": corrupt,
        "samples": samples,
        "meta": [{"bldg_id": b, "county": profs[b]["county"], "type": profs[b]["type"],
                  "group": profs[b]["group"]} for b in bldgs],
        "valid": {str(u): valid[u] for u in upgrades},
    }
    with open(os.path.join(path, "expected.json"), "w") as fh:
        json.dump(expected, fh)
    return path


VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "en", "zh", "es", "fr", "de"]


def corpus(root, seed, docs):
    """Generate (or reuse) a `documents.parquet` shaped like the driver's
    test corpus: 10-100 tokens from a 31-word vocabulary, 20 sources, a
    skewed language mix, a few exact duplicates and 5% near copies tagged
    `dup`."""
    name = f"docs-{VERSION}-s{seed}-n{docs}"
    path = os.path.join(root, name)
    if _fresh(path):
        os.utime(path)
        return path
    _evict(root, 3, "docs-")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    r = _rng(seed, 17)
    texts = []
    for i in range(docs):
        roll = r.random()
        if i > 10 and roll < 0.002:
            texts.append(texts[int(r.integers(0, i))])
        elif i > 10 and roll < 0.05:
            base = texts[int(r.integers(0, i))].split()
            cut = int(r.integers(max(1, len(base) // 2), len(base) + 1))
            texts.append(" ".join(base[:cut] + ["dup"]))
        else:
            # lengths cycle through 10..100 tokens by document number, so the
            # corpus size hardly depends on the seed
            n = 10 + (i * 37) % 91
            texts.append(" ".join(VOCAB[j] for j in r.integers(0, len(VOCAB), n)))
    table = pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[int(j)] for j in r.integers(0, len(LANGS), docs)],
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    pq.write_table(table, os.path.join(path, "documents.parquet"))
    with open(os.path.join(path, "expected.json"), "w") as fh:
        json.dump({"seed": seed, "docs": docs}, fh)
    return path
