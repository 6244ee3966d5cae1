"""DuckDB replay of every benchmark operation over the generated files.

The oracle never calls the engine: it reads the same parquet files with
DuckDB and re-derives each result from the reference semantics (schema.yaml
pipelines, the 1383 ``Food_NonFood`` code ranges, household-ID digit
decoding, weighted ECDF deciles). Replays are memoized per year subset and
per base-file version, and always run outside the timed region.
"""

from __future__ import annotations

import math
from pathlib import Path

import duckdb
import yaml

from perfbench.gen import OTHER_INCOME_TYPES

#: expenditure tables the generator writes, with their schema.yaml Duration
DURATIONS = {"food": 30, "cloth": 30, "durable": 360}
#: 1383+ Food_NonFood "Food" code ranges (commodities.yaml: food and
#: non-alcoholic beverages, alcohol/tobacco/narcotics, serving services)
FOOD_SQL = "(code >= 11000 AND code < 13000) OR (code >= 21000 AND code < 24000) OR (code >= 111000 AND code < 112000)"
#: Provision_Method labels that make an expenditure a non-cash income
NONCASH_EXCLUDED = "Purchase"


def province_names() -> dict[int, str]:
    """Province code -> name, read straight from household.yaml (data)."""
    path = Path(__file__).resolve().parents[1] / "hbsir_old_spark" / "metadata" / "yaml" / "household.yaml"
    with open(path, encoding="utf-8") as fh:
        return {int(k): v for k, v in yaml.safe_load(fh)["Province"]["name"].items()}


def rows_equal(got: list[tuple], want: list[tuple], rel: float = 1e-9, abs_: float = 1e-6) -> bool:
    """Order-insensitive row comparison with a float tolerance."""
    if len(got) != len(want):
        return False

    def key(row):
        return tuple((0, "") if v is None else (1, str(v)) if isinstance(v, str) else (1, f"{float(v):.6e}") for v in row)

    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if a is None or b is None:
                if a is not b:
                    return False
            elif isinstance(a, str) or isinstance(b, str):
                if a != b:
                    return False
            elif not math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_):
                return False
    return True


class Oracle:
    def __init__(self, manifest: dict, base_dir: Path | None = None):
        self.manifest = manifest
        self.dir = Path(manifest["dir"])
        self.base = Path(base_dir) if base_dir else self.dir / "base"
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self._memo: dict = {}

    def close(self) -> None:
        self.con.close()

    def _files(self, table: str, years) -> str:
        paths = ", ".join(f"'{self.base / f'{y}_{table}.parquet'}'" for y in years)
        return f"read_parquet([{paths}], filename = true)"

    def _year(self) -> str:
        return "CAST(regexp_extract(filename, '(\\d{4})_[^/]*$', 1) AS INTEGER)"

    def _expenditures(self, years) -> str:
        """Expenditures (schema.yaml): annualised gross/net per row."""
        parts = []
        for table, duration in DURATIONS.items():
            second = "Secondhand_Sale" if table == "durable" else "0"
            parts.append(
                f"SELECT {self._year()} AS year, ID AS id, Code AS code, '{table}' AS tbl,"
                f" Provision_Method AS pm,"
                f" Expenditure / {duration} * 360 AS gross,"
                f" (Expenditure - coalesce({second}, 0)) / {duration} * 360 AS net"
                f" FROM {self._files(table, years)}"
            )
        return " UNION ALL ".join(parts)

    def _weights(self, years) -> str:
        return f"SELECT {self._year()} AS year, ID AS id, Weight AS w FROM {self._files('household_information', years)}"

    def _total_expenditure(self, years) -> str:
        return f"SELECT year, id, sum(gross) AS gross, sum(net) AS net FROM ({self._expenditures(years)}) GROUP BY year, id"

    def _memoized(self, key, sql: str) -> list[tuple]:
        if key not in self._memo:
            self._memo[key] = self.con.execute(sql).fetchall()
        return self._memo[key]

    # -- analyst_reports shapes ---------------------------------------------
    def poverty(self, years) -> list[tuple]:
        names = province_names()
        rows = self._memoized(("poverty", tuple(years)), f"""
            WITH e AS (
              SELECT year, id, gross, CASE WHEN {FOOD_SQL} THEN 'Food' ELSE 'NonFood' END AS cat
              FROM ({self._expenditures(years)}) WHERE id // 10000000000 = 1
            ), wide AS (
              SELECT year, id, sum(CASE WHEN cat = 'Food' THEN gross END) AS food,
                     sum(CASE WHEN cat = 'NonFood' THEN gross END) AS nonfood
              FROM e GROUP BY year, id
            ), r AS (
              SELECT year, id, food / (food + nonfood) * 100 AS ratio FROM wide
              WHERE food IS NOT NULL AND nonfood IS NOT NULL
            )
            SELECT r.year, (r.id // 100000000) % 100 AS prov,
                   sum(CAST(ratio >= 40 AS INTEGER) * w) / sum(w) * 100
            FROM r LEFT JOIN ({self._weights(years)}) wt USING (year, id)
            GROUP BY r.year, prov""")
        return [(y, names[p], v) for y, p, v in rows]

    def _deciles(self, years) -> str:
        """Weighted right-closed ECDF deciles of Total_Expenditure gross,
        ties broken by ID (operators.quantile semantics)."""
        return f"""
            SELECT te.year, te.id, te.gross, wt.w,
                   least(greatest(floor(
                     sum(wt.w) OVER (PARTITION BY te.year ORDER BY te.gross, te.id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     / sum(wt.w) OVER (PARTITION BY te.year) * 10) + 1, 1), 10)::INTEGER AS decile
            FROM ({self._total_expenditure(years)}) te
            LEFT JOIN ({self._weights(years)}) wt USING (year, id)
            WHERE te.gross IS NOT NULL"""

    def decile_food_share(self, years) -> list[tuple]:
        return self._memoized(("food_share", tuple(years)), f"""
            WITH hh AS (
              SELECT year, id, sum(CASE WHEN {FOOD_SQL} THEN gross ELSE 0 END) / sum(gross) AS share
              FROM ({self._expenditures(years)}) GROUP BY year, id
            )
            SELECT hh.year, d.decile,
                   sum(hh.share * wt.w) / sum(CASE WHEN hh.share IS NOT NULL THEN wt.w END)
            FROM hh
            LEFT JOIN ({self._deciles(years)}) d USING (year, id)
            LEFT JOIN ({self._weights(years)}) wt USING (year, id)
            GROUP BY hh.year, d.decile""")

    def real_equivalised(self, years, cpi_path: Path) -> list[tuple]:
        return self._memoized(("real_eq", tuple(years)), f"""
            WITH m AS (
              SELECT {self._year()} AS year, ID AS id, count(Member_Number) AS members,
                     sum(CASE WHEN Age >= 14 THEN 1 ELSE 0 END) AS adults
              FROM {self._files('members_properties', years)} GROUP BY year, id
            ), te AS (
              SELECT te.year, te.id,
                     CASE WHEN te.id // 10000000000 = 1 THEN 'Urban' ELSE 'Rural' END AS ur,
                     te.gross / (0.5 * m.adults + 0.5 + 0.3 * (m.members - m.adults)) AS g
              FROM ({self._total_expenditure(years)}) te LEFT JOIN m USING (year, id)
            )
            SELECT te.year, te.ur, sum(te.g / c.CPI * 100 * wt.w) / sum(wt.w)
            FROM te
            LEFT JOIN (SELECT Year AS cpi_year, Urban_Rural AS cpi_ur, CPI FROM read_parquet('{cpi_path}')) c
              ON c.cpi_year = te.year AND c.cpi_ur = te.ur
            LEFT JOIN ({self._weights(years)}) wt USING (year, id)
            GROUP BY te.year, te.ur""")

    def weighted_deciles(self, years) -> list[tuple]:
        return self._memoized(("deciles", tuple(years)), f"""
            SELECT year, decile, count(*), sum(w), sum(gross * w)
            FROM ({self._deciles(years)}) GROUP BY year, decile""")

    # -- cached_tables --------------------------------------------------------
    def cached_table(self, table: str, years, version_key) -> list[tuple]:
        """Per-(Year, ID) Total_Expenditure or Total_Income at one state of
        the base files (``version_key`` names that state)."""
        if table == "Total_Expenditure":
            sql = f"SELECT year, id, gross, net FROM ({self._total_expenditure(years)})"
        else:
            y = self._year()
            other = " + ".join(f"CASE WHEN {c} > 0 THEN {c} ELSE 0 END" for c in OTHER_INCOME_TYPES)
            sql = f"""
                WITH inc AS (
                  SELECT year, id, net AS v FROM ({self._expenditures(years)})
                  WHERE pm IS NOT NULL AND pm <> '{NONCASH_EXCLUDED}'
                  UNION ALL SELECT {y}, ID, Yearly_Net_Income FROM {self._files('employment_income', years)}
                  UNION ALL SELECT {y}, ID, Profit FROM {self._files('self_employed_income', years)}
                  UNION ALL SELECT {y}, ID, {other} FROM {self._files('other_income', years)}
                  UNION ALL SELECT {y}, ID, Subsidy FROM {self._files('subsidy', years)}
                )
                SELECT year, id, sum(v) FROM inc GROUP BY year, id"""
        return self._memoized(("cached", table, tuple(years), version_key), sql)

    # -- span_build -----------------------------------------------------------
    def span_food(self) -> list[tuple]:
        """Processed ``food`` over all 39 years, aggregated per (Year,
        Provision_Method): the raw string files cleaned per the manifest's
        metadata-derived layouts, then schema.yaml's food pipeline."""
        if "span" in self._memo:
            return self._memo["span"]
        parts = []
        for year_s, layout in self.manifest["layouts"].items():
            year = int(year_s)
            era = next(e for e in self.manifest["eras"] if e["first"] <= year <= e["last"])
            path = self.dir / "raw" / era["file"]
            fields = {}
            for raw, spec in layout.items():
                if spec["type"] == "drop":
                    continue
                col = f'"{raw}"'
                if spec["categories"]:
                    cases = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in spec["categories"].items())
                    fields[spec["field"]] = f"CASE trim({col}) {cases} END"
                elif spec["type"] in ("unsigned", "integer"):
                    fields[spec["field"]] = f"CAST({col} AS BIGINT)"
                else:
                    fields[spec["field"]] = f"CAST({col} AS DOUBLE)"
            kilos = fields["Kilos"]
            # food.create_column Amount: Kilos + 0.001 * Grams from 1383
            amount = f"({kilos} + 0.001 * {fields['Grams']})" if year >= 1383 else kilos
            # food.create_column Price = Expenditure / Amount where no raw Price
            price = fields.get("Price", f"{fields['Expenditure']} / {amount}")
            pm = fields["Provision_Method"]
            ps = fields.get("Price_System", "NULL")
            if year <= 1368:
                # Purchase_{Free,Subsidised}_Price -> Purchase + Price_System
                ps = f"CASE {pm} WHEN 'Purchase_Free_Price' THEN 'Free_Price' WHEN 'Purchase_Subsidised_Price' THEN 'Subsidised_Price' END"
                pm = f"CASE WHEN {pm} IN ('Purchase_Free_Price', 'Purchase_Subsidised_Price') THEN 'Purchase' ELSE {pm} END"
                # Duration classification (commodities.yaml original_1363)
                code = fields["Code"]
                duration = f"CASE WHEN {code} >= 11200 AND {code} < 11300 THEN 30 ELSE 2 END"
            else:
                duration = "30"
            parts.append(
                f"SELECT {year} AS year, {pm} AS pm, {fields['Expenditure']} AS exp, {amount} AS amount,"
                f" {price} AS price, {duration} AS duration, {fields['Code']} AS code, {ps} AS ps"
                f" FROM read_parquet('{path}') WHERE Year = {year}"
            )
        sql = f"""
            SELECT year, pm, count(*), sum(exp), sum(amount), sum(price), max(duration), min(code), count(ps)
            FROM ({' UNION ALL '.join(parts)}) GROUP BY year, pm"""
        self._memo["span"] = self.con.execute(sql).fetchall()
        return self._memo["span"]
