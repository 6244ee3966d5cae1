"""Seeded input generator for the survey-engine benchmark.

Writes survey-shaped parquet files with numpy + pyarrow in one process; it
never starts Spark and never calls the engine's data path. The only engine
code it imports is the pure-Python metadata layer: the raw ``food`` file
layout of every year is *derived* from the ported ``tables.yaml`` through
``engine_cleaning_metadata`` + ``resolve_versioned``, so a layout change in
the metadata changes the generated files too.

Schemas and household-ID digit rules follow FIXTURES.md: digit 0 is the
Urban_Rural code (1 = Urban, 2 = Rural), digits 1-2 the province code
(0-30), digits 3-4 a county suffix, the rest a serial; the ID length per
year comes from ``household.yaml``'s ``ID_Length``.

Outputs are cached under ``<root>/<workload>-s<seed>-<size>-<digest>/`` and
reused when ``manifest.json`` (written last) exists; ``<digest>`` hashes
this file and the metadata YAML it derives layouts from, so an edit to
either makes fresh inputs instead of serving stale ones.

Usage::

    python3 perfbench/gen.py --workload span_build --seed 1 [--size default]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: default cache root for generated inputs (git-ignored)
WORK_ROOT = Path(__file__).resolve().parent / "_work"

ANALYST_YEARS = (1396, 1397, 1398, 1399, 1400, 1401)
CACHED_YEARS = (1398, 1399, 1400)
SPAN_YEARS = tuple(range(1363, 1402))

#: households per year / rows per year, by size name
SIZES = {
    "analyst_reports": {"default": {"households": 1200}, "tiny": {"households": 60}},
    "cached_tables": {"default": {"households": 1500}, "tiny": {"households": 60}},
    "span_build": {"default": {"rows": 85_000}, "tiny": {"rows": 400}},
}

#: processed-form Provision_Method labels used by the cleaned base tables
PROVISION_METHODS = (
    "Purchase", "Home_Production", "Instead_of_Public_Service",
    "Instead_of_Cooperative_Service", "Instead_of_Private_Service",
    "Agricultural_Work", "Non_Agricultural_Work", "Donation",
)
#: code range per expenditure table. Food codes 11100-11479 are Food in
#: every Food_NonFood version and hit none of food's per-year exclusion
#: filters (18888, 19993, 911xx); clothing (COICOP 03.1) and vehicle
#: purchase (07.1) codes are NonFood in the 1383 coding
CODE_RANGES = {"food": (11100, 11480), "cloth": (31100, 31300), "durable": (71100, 71300)}
EXPENDITURE_TABLES = tuple(CODE_RANGES)
SECTORS = ("Public", "Private", "Cooperative")
SEASONS = ("Spring", "Summer", "Autumn", "Winter")

#: the epoch stamped on base files; overwrite ``k`` stamps EPOCH + 10 * k,
#: the way a later rewrite of the file would move its mtime forward
EPOCH = 1_700_000_000


# -- metadata-derived raw layouts -------------------------------------------


def id_lengths() -> dict[int, int]:
    from hbsir_old_spark.metadata.corpus import load_corpus

    return {int(k): int(v) for k, v in load_corpus().household["ID_Length"].items()}


def id_length(year: int, lengths: dict[int, int]) -> int:
    return lengths[max(k for k in lengths if k <= year)]


def food_layouts(years=SPAN_YEARS) -> dict[int, dict]:
    """Raw ``food`` column layout per year, from the ported tables.yaml.

    The metadata names both historical file families (``COL*`` before the
    1400 redesign, ``DYCOL*`` after). A year's file carries ``ADDRESS`` plus
    every column of its family whose resolved metadata is present that year
    (``"drop"`` columns included: they exist on disk and the cleaner drops
    them). Returns ``{year: {raw_column: {"field", "type", "categories"}}}``.
    """
    from hbsir_old_spark.metadata.corpus import engine_cleaning_metadata, load_corpus
    from hbsir_old_spark.metadata.versioning import resolve_versioned

    meta = engine_cleaning_metadata(load_corpus().tables)["food"]
    out: dict[int, dict] = {}
    for year in years:
        columns = (resolve_versioned(meta, year) or {})["columns"]
        family = "DYCOL" if year >= 1400 else "COL"
        layout = {}
        for raw, spec in columns.items():
            if spec is None or not (raw == "ADDRESS" or raw.startswith(family)):
                continue
            if raw.startswith("COL") and family == "DYCOL":
                continue
            if spec == "drop":
                layout[raw] = {"field": None, "type": "drop", "categories": None}
                continue
            cats = spec.get("categories")
            layout[raw] = {
                "field": spec.get("new_name") or raw,
                "type": spec.get("type", "string"),
                "categories": {str(k): v for k, v in cats.items()} if cats else None,
            }
        out[year] = layout
    return out


# -- shared pieces ----------------------------------------------------------


def household_ids(rng: np.random.Generator, n: int, length: int) -> tuple:
    """``n`` distinct IDs of ``length`` digits: (ids, urban_rural, province)."""
    ur = rng.integers(1, 3, n)
    prov = rng.integers(0, 31, n)
    rest_digits = length - 3
    if n > 10**rest_digits:
        raise ValueError(f"cannot draw {n} distinct {length}-digit IDs")
    serial = rng.choice(10**rest_digits, n, replace=False)
    ids = ur.astype(np.int64) * 10 ** (length - 1) + prov.astype(np.int64) * 10 ** rest_digits + serial
    return ids.astype(np.int64), ur, prov


def _write(table: pa.Table, path: Path, mtime: int | None = None) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    # small row groups, so Spark can split one era file across cores
    pq.write_table(table, tmp, row_group_size=65_536)
    os.replace(tmp, path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def _year_rng(seed: int, year: int, table: str, version: int = 0) -> np.random.Generator:
    salt = sum(ord(c) * (i + 1) for i, c in enumerate(table))
    return np.random.default_rng([seed, year, salt, version])


def base_tables(seed: int, year: int, households: int, with_income: bool) -> dict[str, pa.Table]:
    """Cleaned-form base tables of one post-1395 year (the layout
    ``parquet_base_loader`` serves): household_information, members,
    the expenditure tables and, for the cache workload, the income tables."""
    rng = _year_rng(seed, year, "households")
    ids, _, _ = household_ids(rng, households, 11)
    weight = rng.integers(1, 13, households) * 0.5  # exact binary decimals
    out = {
        "household_information": pa.table({
            "ID": ids,
            "Season": pa.array(np.array(SEASONS)[rng.integers(0, 4, households)]),
            "Month": rng.integers(1, 13, households).astype(np.int64),
            "Weight": weight,
            "Household_Type": pa.array(["Normal"] * households),
            "Main_Household": pa.array(np.ones(households, bool)),
            "Alternative_Household": pa.array(np.zeros(households, bool)),
        }),
    }
    n_members = rng.integers(1, 7, households)
    mid = np.repeat(ids, n_members)
    member_no = np.concatenate([np.arange(1, k + 1) for k in n_members]).astype(np.int64)
    out["members_properties"] = pa.table({
        "ID": mid,
        "Member_Number": member_no,
        "Sex": pa.array(np.array(["Male", "Female"])[rng.integers(0, 2, len(mid))]),
        "Age": rng.integers(0, 90, len(mid)).astype(np.int64),
    })
    for table in EXPENDITURE_TABLES:
        out[table] = expenditure_table(seed, year, ids, table, version=0)
    if with_income:
        for table in INCOME_TABLES:
            out[table] = income_table(seed, year, mid, member_no, table, version=0)
    return out


def expenditure_table(seed: int, year: int, ids: np.ndarray, table: str, version: int) -> pa.Table:
    rng = _year_rng(seed, year, table, version)
    per_hh = rng.integers(*{"food": (6, 15), "cloth": (1, 5), "durable": (0, 2)}[table], len(ids))
    rid = np.repeat(ids, per_hh)
    n = len(rid)
    lo, hi = CODE_RANGES[table]
    # ~70% Purchase, the rest spread over the non-cash provision methods
    pm_idx = np.where(rng.random(n) < 0.7, 0, rng.integers(1, len(PROVISION_METHODS), n))
    cols = {
        "ID": rid,
        "Code": rng.integers(lo, hi, n).astype(np.int64),
        "Provision_Method": pa.array(np.array(PROVISION_METHODS)[pm_idx]),
    }
    if table == "food":
        cols["Grams"] = rng.integers(0, 1000, n).astype(np.float64)
        cols["Kilos"] = rng.integers(1, 160, n) / 8.0
        cols["Price"] = rng.integers(400, 40_000, n) * 0.25
    # whole multiples of the table's Duration (30 or 360 days): annualised
    # values stay integers, so sums are exact in any order and thresholds
    # (Engel ratio, decile edges) cannot flip between engines
    duration = 360 if table == "durable" else 30
    units = rng.integers(30, 30_000, n)
    cols["Expenditure"] = (units * duration).astype(np.float64)
    if table == "durable":
        cols["Secondhand_Sale"] = (np.floor(units * rng.random(n) * 0.5) * duration).astype(np.float64)
    return pa.table(cols)


#: the wide other_income columns the schema melts into Other_Incomes
OTHER_INCOME_TYPES = ("Retirement", "Rent", "Interest", "Aid", "Home_Production", "Transfer")
INCOME_TABLES = ("employment_income", "self_employed_income", "other_income", "subsidy")


def income_table(
    seed: int, year: int, mid: np.ndarray, member_no: np.ndarray, table: str, version: int
) -> pa.Table:
    """One cleaned-form income table over a random subset of members."""
    rng = _year_rng(seed, year, table, version)
    share = {"employment_income": 0.45, "self_employed_income": 0.2,
             "other_income": 0.3, "subsidy": 0.5}[table]
    pick = rng.random(len(mid)) < share
    n = int(pick.sum())
    cols = {"ID": mid[pick], "Member_Number": member_no[pick]}
    if table == "employment_income":
        monthly = rng.integers(2_000, 400_000, n).astype(np.float64)
        cols["Sector"] = pa.array(np.array(SECTORS)[rng.integers(0, 3, n)])
        cols["Monthly_Net_Income"] = monthly
        cols["Yearly_Net_Income"] = monthly * 12
    elif table == "self_employed_income":
        cols["Is_Agricultural"] = pa.array(rng.random(n) < 0.4)
        cols["Profit"] = rng.integers(-50_000, 3_000_000, n).astype(np.float64)
    elif table == "other_income":
        for name in OTHER_INCOME_TYPES:
            # mostly zero: the schema keeps only Other_Incomes > 0
            cols[name] = np.where(rng.random(n) < 0.3, rng.integers(1, 900_000, n), 0).astype(np.float64)
    else:
        cols["Subsidy"] = rng.integers(1, 20, n) * 455_000.0
    return pa.table(cols)


# -- span_build raw files ---------------------------------------------------


def layout_eras(layouts: dict[int, dict]) -> list[tuple[int, int]]:
    """Runs of consecutive years whose raw files share one column set: the
    survey's file-format eras, one raw file each."""
    eras: list[list[int]] = []
    for year in sorted(layouts):
        if eras and list(layouts[year]) == list(layouts[eras[-1][-1]]):
            eras[-1].append(year)
        else:
            eras.append([year])
    return [(e[0], e[-1]) for e in eras]


def raw_food(seed: int, year: int, rows: int, layout: dict, lengths: dict) -> pa.Table:
    """String-typed raw food rows of one year in that year's layout."""
    rng = _year_rng(seed, year, "raw_food")
    households = max(rows // 12, 1)
    ids, _, _ = household_ids(rng, households, id_length(year, lengths))
    rid = ids[rng.integers(0, households, rows)]
    values = {
        "ID": pa.array(rid),
        "Code": pa.array(rng.integers(*CODE_RANGES["food"], rows).astype(np.int64)),
        "Kilos": pa.array(rng.integers(1, 160, rows) / 8.0),
        "Grams": pa.array(rng.integers(0, 1000, rows).astype(np.int64)),
        "Price": pa.array(rng.integers(400, 40_000, rows) * 0.25),
        "Expenditure": pa.array(rng.integers(1_000, 900_000, rows).astype(np.int64)),
    }
    cols = {}
    for raw, spec in layout.items():
        if spec["type"] == "drop":
            cols[raw] = pa.array(rng.integers(0, 10, rows).astype(str))
            continue
        if spec["categories"]:
            keys = np.array(sorted(spec["categories"], key=int))
            cols[raw] = pa.array(keys[rng.integers(0, len(keys), rows)])
            continue
        cols[raw] = values[spec["field"]].cast(pa.string())
    return pa.table(cols)


# -- cached_tables schedule -------------------------------------------------

#: base files a rebuild may overwrite, per cached table (each is in that
#: table's dependency tree, so the overwrite changes its fingerprint)
OVERWRITE_TARGETS = {
    "Total_Expenditure": ("food", "cloth"),
    "Total_Income": ("employment_income", "food"),
}
#: one operation in every block of this many is preceded by an overwrite
REBUILD_EVERY = 4


def cached_schedule(seed: int, n_ops: int) -> list[dict]:
    """The op sequence of the cache workload: which table each operation
    loads and, for one op per block of :data:`REBUILD_EVERY` (position
    seeded), which (table, year) base file is overwritten just before it."""
    rng = np.random.default_rng([seed, 4242])
    ops = []
    for block in range(0, n_ops, REBUILD_EVERY):
        hit = int(rng.integers(0, REBUILD_EVERY))
        for i in range(REBUILD_EVERY):
            table = ("Total_Expenditure", "Total_Income")[int(rng.integers(0, 2))]
            op = {"table": table, "overwrite": None}
            if i == hit:
                target = OVERWRITE_TARGETS[table][int(rng.integers(0, 2))]
                op["overwrite"] = {
                    "table": target,
                    "year": int(CACHED_YEARS[int(rng.integers(0, len(CACHED_YEARS)))]),
                }
            ops.append(op)
    return ops[:n_ops]


def overwrite_base(base_dir: Path, seed: int, table: str, year: int, version: int, households: int) -> Path:
    """Rewrite one year's base parquet with new values (version ``version``)
    and move its mtime forward, as a re-delivered survey file would."""
    rng = _year_rng(seed, year, "households")
    ids, _, _ = household_ids(rng, households, 11)
    if table in INCOME_TABLES:
        members = pq.read_table(base_dir / f"{year}_members_properties.parquet")
        data = income_table(
            seed, year, members["ID"].to_numpy(), members["Member_Number"].to_numpy(), table, version
        )
    else:
        data = expenditure_table(seed, year, ids, table, version)
    path = base_dir / f"{year}_{table}.parquet"
    _write(data, path, mtime=EPOCH + 10 * version)
    return path


# -- entry points -----------------------------------------------------------


def input_digest() -> str:
    """Hash of the generator's source and of the metadata YAML it reads."""
    from hbsir_old_spark.metadata.corpus import PACKAGE_YAML_DIR

    h = hashlib.sha256(Path(__file__).read_bytes())
    for path in sorted(Path(PACKAGE_YAML_DIR).glob("*.yaml")):
        h.update(path.name.encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:12]


def generate(workload: str, seed: int, size: str = "default", root: Path = WORK_ROOT) -> dict:
    """Generate (or reuse) the inputs of one (workload, seed, size); returns
    the manifest, whose ``dir`` is the input directory."""
    params = SIZES[workload][size]
    out_dir = Path(root) / f"{workload}-s{seed}-{size}-{input_digest()}"
    manifest_path = out_dir / "manifest.json"
    if manifest_path.exists():
        return json.loads(manifest_path.read_text())
    if out_dir.exists():
        shutil.rmtree(out_dir)
    rows: dict[str, dict[str, int]] = {}
    manifest: dict = {"workload": workload, "seed": seed, "size": size, "dir": str(out_dir), **params}
    if workload == "span_build":
        layouts = food_layouts()
        lengths = id_lengths()
        eras = []
        for first, last in layout_eras(layouts):
            parts = []
            for year in range(first, last + 1):
                table = raw_food(seed, year, params["rows"], layouts[year], lengths)
                parts.append(table.append_column("Year", pa.array(np.full(table.num_rows, year, np.int32))))
                rows.setdefault("food", {})[str(year)] = table.num_rows
            name = f"food_{first}-{last}.parquet"
            _write(pa.concat_tables(parts), out_dir / "raw" / name)
            eras.append({"first": first, "last": last, "file": name})
        manifest["eras"] = eras
        manifest["layouts"] = {str(y): layouts[y] for y in SPAN_YEARS}
        manifest["years"] = list(SPAN_YEARS)
    else:
        years = ANALYST_YEARS if workload == "analyst_reports" else CACHED_YEARS
        for year in years:
            tables = base_tables(seed, year, params["households"], workload == "cached_tables")
            for name, table in tables.items():
                _write(table, out_dir / "base" / f"{year}_{name}.parquet", mtime=EPOCH)
                rows.setdefault(name, {})[str(year)] = table.num_rows
        manifest["years"] = list(years)
        if workload == "analyst_reports":
            cpi = pa.table({
                "Urban_Rural": pa.array(["Urban", "Rural"] * len(years)),
                "Year": pa.array(np.repeat(np.array(years, np.int32), 2)),
                "CPI": pa.array([round(100 * 1.3 ** (y - 1400) * f, 1) for y in years for f in (1.0, 0.96)]),
            })
            _write(cpi, out_dir / "cpi.parquet")
    manifest["rows"] = rows
    manifest_path.write_text(json.dumps(manifest, indent=1, sort_keys=True))
    return manifest


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", default="default")
    args = ap.parse_args(argv)
    manifest = generate(args.workload, args.seed, args.size)
    print(manifest["dir"])
    return 0


if __name__ == "__main__":
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    raise SystemExit(main())
