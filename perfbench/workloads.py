"""The three closed-loop workloads of the survey-engine benchmark.

Each workload drives the public ``HBSIREngine`` / ``build_reference_registry``
surface over files made by :mod:`perfbench.gen`. One operation is split into
``plan`` (call -> lazy DataFrame, the driver-side plan build) and ``action``
(the Spark job that returns rows); :meth:`Workload.expected` replays the
operation with the DuckDB :class:`~perfbench.oracle.Oracle`.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np

from perfbench import gen
from perfbench.oracle import Oracle, rows_equal

EXPENDITURE_TABLES = gen.EXPENDITURE_TABLES


def _reshape():
    # looked up through the module at call time, so a tracer patch applies
    from hbsir_old_spark.operators import reshape

    return reshape


class Workload:
    name = ""
    #: warm-up operations run during set-up
    warmup = 2
    #: operations per round; a run measures whole rounds
    round_ops = 1
    #: operation time of one round on the reference host (4 vCPUs): turns
    #: ``--seconds`` into a fixed number of rounds, so the request mix, and
    #: with it the median, does not change with the host's speed
    round_seconds = 8.0
    #: fewest rounds per measured phase
    min_rounds = 1

    def __init__(self, spark, manifest: dict, workdir: Path, seed: int):
        self.spark = spark
        self.manifest = manifest
        self.dir = Path(manifest["dir"])
        self.workdir = Path(workdir)
        self.seed = seed
        self.rng = np.random.default_rng([seed, 7])
        self.oracle = Oracle(manifest, self.base_dir())
        self.engine = None

    def base_dir(self) -> Path:
        return self.dir / "base"

    def rows(self, tables, years) -> int:
        counts = self.manifest["rows"]
        return sum(counts[t][str(y)] for t in set(tables) for y in years if str(y) in counts.get(t, {}))

    def build_engine(self):
        raise NotImplementedError

    def next_op(self, i: int) -> dict:
        raise NotImplementedError

    def before_op(self, op: dict) -> None:
        """Untimed preparation (the cache workload overwrites a file here)."""

    def after_op(self, op: dict) -> None:
        """Untimed bookkeeping right after an operation."""

    def plan(self, op: dict):
        raise NotImplementedError

    def action(self, df) -> list[tuple]:
        return [tuple(r) for r in df.collect()]

    def expected(self, op: dict) -> list[tuple]:
        raise NotImplementedError

    def check(self, op: dict, got: list[tuple]) -> bool:
        return rows_equal(got, self.expected(op))

    def close(self) -> None:
        self.oracle.close()


class AnalystReports(Workload):
    """Published analysis shapes round-robin over seeded 1-3-year subsets of
    the post-1395 years, against cleaned per-year base parquet."""

    name = "analyst_reports"
    SHAPES = ("poverty", "decile_food_share", "real_equivalised", "weighted_deciles")
    TABLES = {
        "poverty": (*EXPENDITURE_TABLES, "household_information"),
        "decile_food_share": (*EXPENDITURE_TABLES, "household_information"),
        "real_equivalised": (*EXPENDITURE_TABLES, "members_properties", "household_information"),
        "weighted_deciles": (*EXPENDITURE_TABLES, "household_information"),
    }
    warmup = 4
    round_ops = len(SHAPES)
    round_seconds = 12.0

    def build_engine(self):
        from hbsir_old_spark.api import HBSIREngine, parquet_base_loader

        self.engine = HBSIREngine.with_reference_corpus(
            self.spark, base_loader=parquet_base_loader(self.spark, str(self.base_dir()))
        )
        # the explicit CPI frame (Urban_Rural, Year, CPI) of the deflation shape
        self.cpi = self.spark.read.parquet(str(self.dir / "cpi.parquet"))
        return self.engine

    def next_op(self, i: int) -> dict:
        shape = self.SHAPES[i % len(self.SHAPES)]
        # warm-up: one single-year request per shape; after it, every block
        # of 12 requests holds each (shape, 1|2|3 years) pair once, so runs
        # of any seed see the same mix; the years themselves are seeded
        k = 1 if i < self.warmup else 1 + (i + i // len(self.SHAPES)) % 3
        years = sorted(int(y) for y in self.rng.choice(gen.ANALYST_YEARS, k, replace=False))
        return {"shape": shape, "years": years, "rows": self.rows(self.TABLES[shape], years)}

    def plan(self, op: dict):
        from pyspark.sql import functions as F

        eng, years = self.engine, op["years"]
        shape = op["shape"]
        if shape == "poverty":
            # examples/graphs/poverty_rate: Engel ratio >= 40 share by province
            exp = eng.add_classification(
                eng.load_table("Expenditures", years), "Food_NonFood", years=years
            )
            exp = eng.select(exp, "Urban_Rural", ["Urban"])
            hh = _reshape().pivot_table(
                exp, ["Year", "ID"], "Food_NonFood", "Gross_Expenditure",
                agg="sum", pivot_values=["Food", "NonFood"],
            )
            hh = hh.withColumn("Ratio", F.col("Food") / (F.col("Food") + F.col("NonFood")) * 100)
            hh = eng.add_weight(hh.filter(F.col("Ratio").isNotNull()), years)
            hh = hh.withColumn("Poor", (F.col("Ratio") >= 40).cast("int") * F.col("Weight"))
            hh = eng.add_attribute(hh, "Province")
            return hh.groupBy("Year", "Province").agg(
                (F.sum("Poor") / F.sum("Weight") * 100).alias("Poverty_Rate")
            )
        if shape == "decile_food_share":
            exp = eng.add_classification(
                eng.load_table("Expenditures", years), "Food_NonFood", years=years
            )
            food = F.when(F.col("Food_NonFood") == "Food", F.col("Gross_Expenditure")).otherwise(0)
            hh = exp.groupBy("Year", "ID").agg(
                (F.sum(food) / F.sum("Gross_Expenditure")).alias("Food_Share")
            )
            hh = eng.add_quantile_by_variable(hh, "Gross_Expenditure", bins=10, years=years)
            hh = eng.add_weight(hh, years)
            return eng.average_table(hh, value_cols=["Food_Share"], groupby=["Year", "Decile"])
        te = eng.load_table("Total_Expenditure", years)
        if shape == "real_equivalised":
            te = eng.adjust_by_equivalence_scale(
                te, ["Gross_Expenditure"], scale="OECD_Modified", years=years
            )
            te = eng.add_attribute(te, "Urban_Rural")
            te = eng.adjust_by_cpi(te, self.cpi, ["Gross_Expenditure"], on=["Urban_Rural", "Year"])
            te = eng.add_weight(te, years)
            return te.groupBy("Year", "Urban_Rural").agg(
                (F.sum(F.col("Gross_Expenditure") * F.col("Weight")) / F.sum("Weight")).alias("Real")
            )
        te = eng.add_decile(eng.add_weight(te, years), "Gross_Expenditure")
        return te.groupBy("Year", "Decile").agg(
            F.count("*"), F.sum("Weight"), F.sum(F.col("Gross_Expenditure") * F.col("Weight"))
        )

    def expected(self, op: dict) -> list[tuple]:
        years = op["years"]
        shape = op["shape"]
        if shape == "poverty":
            return self.oracle.poverty(years)
        if shape == "decile_food_share":
            return self.oracle.decile_food_share(years)
        if shape == "real_equivalised":
            return self.oracle.real_equivalised(years, self.dir / "cpi.parquet")
        return self.oracle.weighted_deciles(years)


class SpanBuild(Workload):
    """Processed ``food`` over all 39 years from string-typed raw files."""

    name = "span_build"
    warmup = 1
    #: the median of three builds drops the one still slowed by JIT warm-up
    min_rounds = 3

    def build_engine(self):
        from hbsir_old_spark.api import HBSIREngine

        self.engine = HBSIREngine.with_reference_corpus(self.spark, raw_loader=self.raw_loader())
        return self.engine

    def raw_loader(self):
        """Raw loader over the per-era files, with both loader contracts:
        one year at a time, and the batched ``load_years`` protocol (one
        frame per file era, years in the registry's year-tag column)."""
        from pyspark.sql import functions as F

        from hbsir_old_spark.plans.pipeline import PIPELINE_YEAR

        spark, raw_dir, eras = self.spark, self.dir / "raw", self.manifest["eras"]
        # the files never change during a run: read each era's footer once
        frames = {e["file"]: spark.read.parquet(str(raw_dir / e["file"])) for e in eras}

        def era_frames(name: str, years):
            if name != "food":
                return
            for era in eras:
                covered = [y for y in years if era["first"] <= y <= era["last"]]
                if covered:
                    frame = frames[era["file"]]
                    if len(covered) < era["last"] - era["first"] + 1:
                        frame = frame.filter(F.col("Year").isin(covered))
                    yield covered, frame

        def raw_loader(name: str, year: int):
            for _, frame in era_frames(name, [year]):
                return frame.drop("Year")
            return None

        def load_years(name: str, years):
            return [(covered, frame.withColumnRenamed("Year", PIPELINE_YEAR))
                    for covered, frame in era_frames(name, list(years))]

        raw_loader.load_years = load_years
        return raw_loader

    def next_op(self, i: int) -> dict:
        return {"years": list(gen.SPAN_YEARS), "rows": self.rows(["food"], gen.SPAN_YEARS)}

    def plan(self, op: dict):
        from pyspark.sql import functions as F

        df = self.engine.load_table("food", op["years"])
        return df.groupBy("Year", "Provision_Method").agg(
            F.count("*"), F.sum("Expenditure"), F.sum("Amount"), F.sum("Price"),
            F.max("Duration"), F.min("Code"), F.count("Price_System"),
        )

    def expected(self, op: dict) -> list[tuple]:
        return self.oracle.span_food()


class CachedTables(Workload):
    """``cache_result`` standard tables through an engine with ``cache_dir``;
    one op in :data:`gen.REBUILD_EVERY` is preceded by a base-file overwrite."""

    name = "cached_tables"
    round_ops = gen.REBUILD_EVERY
    round_seconds = 6.0
    COLUMNS = {
        "Total_Expenditure": ("Year", "ID", "Gross_Expenditure", "Net_Expenditure"),
        "Total_Income": ("Year", "ID", "Income"),
    }
    TREES = {
        "Total_Expenditure": EXPENDITURE_TABLES,
        "Total_Income": (*EXPENDITURE_TABLES, *gen.INCOME_TABLES),
    }

    def __init__(self, spark, manifest, workdir, seed):
        # the run mutates its base files: work on a private copy
        self.run_base = Path(workdir) / "base"
        shutil.rmtree(self.run_base, ignore_errors=True)
        shutil.copytree(Path(manifest["dir"]) / "base", self.run_base)
        super().__init__(spark, manifest, workdir, seed)
        self.schedule = gen.cached_schedule(seed, 10_000)
        self.version = 0
        self.cache_dir = self.workdir / "cache"

    def base_dir(self) -> Path:
        return self.run_base

    def build_engine(self):
        from hbsir_old_spark.api import HBSIREngine, parquet_base_loader

        shutil.rmtree(self.cache_dir, ignore_errors=True)
        self.engine = HBSIREngine.with_reference_corpus(
            self.spark,
            base_loader=parquet_base_loader(self.spark, str(self.run_base)),
            cache_dir=str(self.cache_dir),
        )
        return self.engine

    def next_op(self, i: int) -> dict:
        step = self.schedule[i]
        years = list(gen.CACHED_YEARS)
        return {**step, "years": years, "rows": self.rows(self.TREES[step["table"]], years)}

    def before_op(self, op: dict) -> None:
        target = op["overwrite"]
        if target is not None:
            # replay the current file state first: the rebuilt year must
            # differ from it afterwards
            op["before"] = self.oracle.cached_table(op["table"], op["years"], self.version)
            self.version += 1
            gen.overwrite_base(
                self.run_base, self.seed, target["table"], target["year"],
                self.version, self.manifest["households"],
            )

    def after_op(self, op: dict) -> None:
        # the files change between ops, so replay while this state is current
        op["expected"] = self.oracle.cached_table(op["table"], op["years"], self.version)

    def plan(self, op: dict):
        return self.engine.load_table(op["table"], op["years"]).select(*self.COLUMNS[op["table"]])

    def expected(self, op: dict) -> list[tuple]:
        return op["expected"]

    def check(self, op: dict, got: list[tuple]) -> bool:
        if not rows_equal(got, op["expected"]):
            return False
        target = op["overwrite"]
        if target is None:
            return True
        # the rebuilt year reflects the overwritten file, not the old one
        year = target["year"]
        return not rows_equal(
            [r for r in got if r[0] == year], [r for r in op["before"] if r[0] == year]
        )


WORKLOADS = {w.name: w for w in (AnalystReports, SpanBuild, CachedTables)}
