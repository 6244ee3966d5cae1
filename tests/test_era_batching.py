"""Era-batched multi-year builds (plans/registry.py:_build_years_batched).

A multi-year build must be OBSERVATIONALLY IDENTICAL to the union of
one-year builds of the same table: same rows, same schema, for every table
the corpus can express. The strongest pin is full-span equality over the
real 39-year metadata (every layout era, the filter-drift merge, the
classification decode, the projection change); synthetic specs pin joins
not keyed on Year, partial availability and the tag-preservation
invariants.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod


def _year_by_year(reg, name, years):
    """The reference build: one single-year load per year, unioned."""
    from hbsir_old_spark.operators.reshape import union_tables

    return union_tables([reg.load_table(name, [y]) for y in years])


def _collect_sorted(df):
    cols = sorted(df.columns)
    return [tuple(r[c] for c in cols) for r in sorted(
        df.select(*cols).collect(), key=lambda r: tuple(str(r[c]) for c in cols)
    )]


class TestFullSpanEquality:
    def test_batched_equals_per_year_full_span(self, spark, sf_dir):
        """39 years through the genuine corpus: the multi-year era build
        and year-by-year builds produce identical row multisets and
        schemas."""
        years = list(range(1363, 1402))
        reg = entry_mod._l15_registry(spark, sf_dir)
        batched = reg.load_table("food", years, form="processed")
        per_year = _year_by_year(reg, "food", years)
        assert batched.columns == per_year.columns
        assert [f.dataType for f in batched.schema.fields] == [
            f.dataType for f in per_year.schema.fields
        ]
        # compare on the aggregated form (300 rows, all six eras pinned by
        # integer sums) — the row-level frames are compared via their
        # identical aggregate images, which the DuckDB oracle additionally
        # certifies against an independent engine
        a = _collect_sorted(entry_mod._l15_aggregate(batched))
        b = _collect_sorted(entry_mod._l15_aggregate(per_year))
        assert a == b

    def test_batched_row_level_sample_equality(self, spark, sf_dir):
        """Row-level (not aggregate) equality on a cross-era year slice."""
        years = [1368, 1369, 1374, 1383, 1401]
        reg = entry_mod._l15_registry(spark, sf_dir)
        batched = reg.load_table("food", years, form="processed")
        per_year = _year_by_year(reg, "food", years)
        assert _collect_sorted(batched) == _collect_sorted(per_year)


class TestNonYearJoin:
    @pytest.fixture()
    def registry(self, spark):
        """A tiny registry over synthetic base data whose joined table
        differs per year."""
        from hbsir_old_spark.plans.registry import TableRegistry

        base = spark.createDataFrame(
            [(i, 10 * i + y % 7, float(i * y % 100))
             for i in range(1, 21) for y in (1398, 1399, 1400)],
            "ID long, K long, V double",
        )

        schema = {
            "fact": {
                "instructions": [
                    "add_year",
                    {"join": {"table_name": "dim", "columns": ["K"]}},
                ]
            },
            # the dim differs per year, so a join NOT keyed on Year
            # must still only match rows of the same year
            "dim": {
                "instructions": [
                    {"create_column": {
                        "name": "lbl", "type": "numerical",
                        "versions": {1398: {"expression": "K * 2"},
                                     1400: {"expression": "K * 3"}},
                    }},
                ]
            },
        }

        def loader(name, year):
            if name == "fact":
                return base.filter(F.col("ID") % 3 == year % 3).drop("V")
            if name == "dim":
                return base.select("K").distinct()
            return None

        return TableRegistry(spark, schema=schema, base_loader=loader)

    def test_non_year_join_matches_year_by_year(self, registry):
        years = [1398, 1399, 1400]
        a = _collect_sorted(registry.load_table("fact", years))
        b = _collect_sorted(_year_by_year(registry, "fact", years))
        assert a == b and len(a) > 0


class TestExternalFunctionDroppingYear:
    def test_runs_per_year_and_matches_year_by_year(self, spark):
        """An external function whose output keeps neither the year tag
        nor Year cannot tell years apart on an era frame: it must run on
        each year's slice, so per-ID sums stay within years."""
        from hbsir_old_spark.plans.registry import TableRegistry

        base = spark.createDataFrame(
            [(1, 5.0), (1, 7.0), (2, 1.0)], "ID long, V double"
        )

        def per_id_sum(df):
            return df.groupBy("ID").agg(F.sum("V").alias("V"))

        reg = TableRegistry(
            spark,
            schema={"t": {"instructions": [{"apply_external_function": "sum"}]}},
            base_loader=lambda name, year: base if name == "t" else None,
            external_functions={"sum": per_id_sum},
        )
        years = [1399, 1400]
        a = _collect_sorted(reg.load_table("t", years))
        assert a == _collect_sorted(_year_by_year(reg, "t", years))
        assert sorted(a) == [(1, 12.0), (1, 12.0), (2, 1.0), (2, 1.0)]


class TestW3CacheChain:
    def test_second_load_serves_from_fingerprint_cache(self, spark, sf_dir, tmp_path):
        """S5 inside the w3 gate chain: after the first Total_Expenditure
        build primes the cache, a reload must not touch the base loader at
        all — the fingerprint short-circuits the whole derivation."""
        from hbsir_old_spark.api import HBSIREngine

        eng = HBSIREngine(
            spark,
            base_loader=entry_mod._w3_base_loader(spark, sf_dir),
            cache_dir=str(tmp_path / "w3c"),
        )
        years = [1399, 1400]
        first = eng.load_table("Total_Expenditure", years)
        n = first.count()

        def poisoned(name, year):
            raise AssertionError(f"base loader called for {name}/{year}")

        eng.registry.base_loader = poisoned
        second = eng.load_table("Total_Expenditure", years)
        assert second.count() == n > 0


class TestReviewFixesRound7:
    def test_case_insensitive_create_column_replaces_in_place(self, spark):
        """Review regression: batched flush must resolve pending names
        case-insensitively like withColumn — create_column 'Amount' over
        an existing 'amount' replaces in place (renamed), never appends a
        duplicate column."""
        from hbsir_old_spark.plans.pipeline import PipelineCompiler

        df = spark.createDataFrame([(1, 2.0)], "id long, amount double")
        out = PipelineCompiler().apply(
            df,
            [{"create_column": {"name": "Amount", "type": "numerical",
                                "expression": "amount * 3"}}],
            1400,
            "t",
        )
        assert out.columns == ["id", "Amount"]
        assert out.collect()[0]["Amount"] == 6.0

    def test_batched_join_partial_availability_matches_per_year_error(self, spark):
        """Regression: a join RAISES when the joined table is
        unavailable for a requested year; a multi-year build must not
        silently drop those years via a partial inner join."""
        from hbsir_old_spark.plans.registry import TableRegistry

        base = spark.createDataFrame(
            [(i, float(i)) for i in range(1, 6)], "ID long, V double"
        )

        def loader(name, year):
            return base if name in ("fact", "dim") else None

        schema = {
            "fact": {
                "instructions": [
                    "add_year",
                    {"join": {"table_name": "dim", "columns": ["Year", "ID"]}},
                ]
            },
            "dim": {"years": [{"start": 1400, "end": 1401}],
                    "instructions": ["add_year"]},
        }
        reg = TableRegistry(spark, schema=schema, base_loader=loader)
        with pytest.raises(ValueError, match="dim"):
            reg.load_table("fact", [1399, 1400])


class TestOutlayChain:
    def test_total_outlay_matches_duckdb_with_tolerance(self, spark, sf_dir):
        """Total_Outlay's household sums are order-dependent float sums —
        exact cross-engine hashing would be tie-prone, so the driver gate
        (l18) stops at the per-row-exact Outlays level and THIS test pins
        the final [[cols]].sum() chain against DuckDB at 1e-9 relative
        tolerance (the engine-test comparison convention)."""
        import duckdb

        from hbsir_old_spark.api import HBSIREngine

        eng = HBSIREngine.with_reference_corpus(
            spark, base_loader=entry_mod._l18_base_loader(spark, sf_dir)
        )
        got = {
            (r["Year"], r["ID"]): (r["Gross_Expenditure"], r["Net_Expenditure"])
            for r in eng.load_table("Total_Outlay", entry_mod._L18_YEARS).collect()
        }
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW lineitem AS SELECT * FROM "
            f"read_parquet('{sf_dir}/lineitem.parquet')"
        )
        exp = con.sql(
            """
            WITH li AS (
              SELECT 1397 + l_orderkey % 3 AS y, l_linenumber % 2 AS tbl,
                     1 + l_orderkey % 150 AS id,
                     l_extendedprice AS price, l_discount AS disc
              FROM lineitem),
            rows_ AS (
              SELECT y, id, price*(1-disc)/30*360 AS g,
                     (price*(1-disc) - 0)/30*360 AS n FROM li WHERE tbl = 0
              UNION ALL
              SELECT y, id, price/360*360, (price - price*disc)/360*360
              FROM li WHERE tbl = 1)
            SELECT y, id, sum(g) AS g, sum(n) AS n FROM rows_ GROUP BY y, id
            """
        ).fetchall()
        assert len(exp) == len(got) > 0
        for y, hid, g, n in exp:
            gg, gn = got[(y, hid)]
            assert abs(gg - g) <= 1e-9 * max(abs(g), 1.0)
            assert abs(gn - n) <= 1e-9 * max(abs(n), 1.0)


class TestTagInvariants:
    def test_no_tag_leaks_into_output(self, spark, sf_dir):
        from hbsir_old_spark.plans.pipeline import PIPELINE_YEAR

        reg = entry_mod._l15_registry(spark, sf_dir)
        df = reg.load_table("food", [1363, 1401], form="processed")
        assert PIPELINE_YEAR not in df.columns

    def test_aggregate_keys_on_tag(self, spark):
        """A spec aggregate that groups by (Year, ID) must aggregate
        within years in the batched frame (the tag rides the groupBy)."""
        from hbsir_old_spark.plans.registry import TableRegistry

        base = spark.createDataFrame(
            [(1, 5.0), (1, 7.0), (2, 1.0)], "ID long, V double"
        )

        def loader(name, year):
            return base if name == "t" else None

        schema = {
            "t": {
                "instructions": [
                    "add_year",
                    {"aggregate": {"groupby": ["Year", "ID"], "columns": ["V"]}},
                ]
            }
        }
        reg = TableRegistry(spark, schema=schema, base_loader=loader)
        out = reg.load_table("t", [1399, 1400])
        rows = {(r["Year"], r["ID"]): r["V"] for r in out.collect()}
        # same base rows fed to both years: per-year sums, not cross-year
        assert rows[(1399, 1)] == 12.0 and rows[(1400, 1)] == 12.0
        assert len(rows) == 4
