"""User-facing API — the reference's function surface
(/root/reference/hbsir/api.py) on Spark.

``HBSIREngine`` binds a SparkSession + schema/metadata into the reference's
verbs: ``load_table``, ``add_classification``, ``add_attribute``,
``select``, ``add_weight``, ``add_cpi`` / ``adjust_by_cpi``,
``adjust_by_equivalence_scale``, and the calculator family
(``average_table``, ``add_decile``, ``add_percentile``). Every verb returns
a lazy DataFrame; nothing executes until an action.
"""

from __future__ import annotations

import re
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbsir_old_spark.functions.standard import DEFAULT_EXTERNAL_FUNCTIONS
from hbsir_old_spark.metadata.default_schema import (
    DEFAULT_CLASSIFICATIONS,
    DEFAULT_HOUSEHOLD,
    DEFAULT_SCHEMA,
)
from hbsir_old_spark.metadata.ranges import parse_years
from hbsir_old_spark.operators.quantile import add_decile as add_decile_op
from hbsir_old_spark.operators.quantile import add_percentile as add_percentile_op
from hbsir_old_spark.operators.weighted import average_table as average_table_op
from hbsir_old_spark.plans.registry import BaseLoader, TableRegistry
from hbsir_old_spark.sources.partitions import infer_years
from hbsir_old_spark.sources.cache import FingerprintCache


class HBSIREngine:
    #: external-data registry (CPI / Gini series), set by attach_external
    external = None

    def __init__(
        self,
        spark: SparkSession,
        base_loader: BaseLoader,
        schema: Mapping | None = None,
        household: Mapping | None = None,
        classifications: Mapping | None = None,
        external_functions: Mapping | None = None,
        cache_dir: str | None = None,
        settings: Mapping | None = None,
        raw_loader: BaseLoader | None = None,
        cleaning_metadata: Mapping | None = None,
    ):
        from hbsir_old_spark.metadata.settings import Settings

        self.spark = spark
        self.settings = Settings.with_defaults(settings)
        self.first_year = self.settings["years.first"]
        self.last_year = self.settings["years.last"]
        self.registry = TableRegistry(
            spark,
            schema=dict(schema if schema is not None else DEFAULT_SCHEMA),
            metadata={
                "household": dict(household or DEFAULT_HOUSEHOLD),
                "classifications": dict(classifications or DEFAULT_CLASSIFICATIONS),
            },
            base_loader=base_loader,
            external_functions={**DEFAULT_EXTERNAL_FUNCTIONS, **(external_functions or {})},
            cache=FingerprintCache(cache_dir) if cache_dir else None,
            weight_year_threshold=self._weight_year_threshold(),
            raw_loader=raw_loader,
            cleaning_metadata=cleaning_metadata,
        )

    @classmethod
    def with_reference_corpus(
        cls,
        spark: SparkSession,
        base_loader: BaseLoader | None = None,
        raw_loader: BaseLoader | None = None,
        cache_dir: str | None = None,
        local_metadata_dir: str | None = None,
        settings: Mapping | None = None,
    ) -> "HBSIREngine":
        """The drop-in facade for a reference user: an engine wired to the
        PORTED 39-year metadata corpus (real tables.yaml cleaning specs,
        schema.yaml pipelines, household.yaml ID layouts, commodity and
        occupation classifications, local-override hook) so
        ``load_table("food", 1400)``, ``add_classification``,
        ``add_attribute`` etc. behave like the reference package out of
        the box. Point ``raw_loader``/``base_loader`` at survey files laid
        out like the original; ``local_metadata_dir`` mirrors the
        reference's user-metadata override directory."""
        from hbsir_old_spark.metadata.corpus import build_reference_registry
        from hbsir_old_spark.metadata.settings import Settings

        self = cls.__new__(cls)
        self.spark = spark
        self.settings = Settings.with_defaults(settings)
        self.first_year = self.settings["years.first"]
        self.last_year = self.settings["years.last"]
        self.registry = build_reference_registry(
            spark,
            base_loader=base_loader,
            raw_loader=raw_loader,
            cache=FingerprintCache(cache_dir) if cache_dir else None,
            local_metadata_dir=local_metadata_dir,
            weight_year_threshold=self._weight_year_threshold(),
        )
        return self

    def _weight_year_threshold(self) -> int:
        """Last year whose weights come from the external ``weights`` table."""
        return self.settings["weights.household_info_from_year"] - 1

    # -- core loading ----------------------------------------------------
    def parse_years(self, years) -> list[int]:
        return parse_years(years, first_year=self.first_year, last_year=self.last_year)

    def load_table(self, name: str, years=None, form: str = "processed") -> DataFrame:
        """Main query path (reference api.py:94-191). ``form`` selects the
        reference's three layers — ``"raw"`` (survey data as acquired),
        ``"cleaned"`` (typed/renamed, values untouched), ``"processed"``
        (full derived pipeline; the only form standard tables have)."""
        return self.registry.load_table(name, self.parse_years(years), form=form)

    def register_views(
        self, names: Sequence[str], years=None, prefix: str = ""
    ) -> list[str]:
        """Expose processed tables as temp views so users can drop to plain
        ``spark.sql`` (the lazy plans register as-is — Catalyst still sees
        the whole derived pipeline through the view, so pushdown/pruning
        keep working across the SQL boundary). Returns the view names."""
        registered = []
        for name in names:
            view = f"{prefix}{name}"
            self.load_table(name, years).createOrReplaceTempView(view)
            registered.append(view)
        return registered

    def sql(self, query: str, years=None, tables: Sequence[str] | None = None) -> DataFrame:
        """Run SQL over standard tables (auto-registering ``tables``, or
        every table name that appears verbatim in the query when omitted)."""
        if tables is None:
            # word-boundary match, not substring: a query over
            # `Original_Expenditures` must not also register `Expenditures`
            # (and possibly shadow a user's own temp view of that name)
            tables = [
                n
                for n in self.registry.schema
                if n.isidentifier() and re.search(rf"\b{re.escape(n)}\b", query)
            ]
        self.register_views(tables, years)
        return self.spark.sql(query)

    def create_table_with_schema(self, schema: Mapping, years=None, name: str = "_adhoc") -> DataFrame:
        """Build a table from a caller-supplied schema dict (reference
        ``create_table_with_schema``, api.py) — the user's dict is resolved
        with the same year-versioning and instruction set as packaged
        schemas, layered over the engine's registry for dependencies."""
        merged = dict(self.registry.schema)
        if "table_list" in schema or "instructions" in schema:
            merged[name] = dict(schema)
            target = name
        else:
            merged.update({k: dict(v) for k, v in schema.items()})
            target = next(iter(schema))
        scratch = self.registry.with_schema(merged)
        return scratch.load_table(target, self.parse_years(years))

    # -- decoders --------------------------------------------------------
    def add_classification(self, table: DataFrame, name: str = "original", **kwargs) -> DataFrame:
        return self.registry.add_classification(table, name=name, **kwargs)

    def add_attribute(self, table: DataFrame, name: str, **kwargs) -> DataFrame:
        return self.registry.add_attribute(table, name, **kwargs)

    def select(self, table: DataFrame, attribute: str, values: Sequence) -> DataFrame:
        """F2 attribute filter (decode -> filter -> no helper column)."""
        return self.registry.select_by_attribute(table, attribute, values)

    # -- enrichment ------------------------------------------------------
    def add_weight(self, table: DataFrame, years=None, adjust_for_household_size: bool = False) -> DataFrame:
        if years is None:
            years = infer_years(table)
        return self.registry.add_weights(
            table, sorted(years), adjust_for_household_size=adjust_for_household_size
        )

    def attach_external(
        self,
        cleaners: Mapping | None = None,
        manual_tables: Mapping | None = None,
        fetcher=None,
        cache_dir: str | None = None,
    ):
        """Wire the external-data registry (reference external_data package:
        CPI / Gini series resolved through the ported external_data.yaml
        with the sci_* cleaning scripts pre-registered). Returns — and
        stores as ``self.external`` — an :class:`ExternalDataRegistry`;
        afterwards ``add_cpi`` / ``adjust_by_cpi`` can auto-load the
        default CPI series like the reference api (api.py:467-517)."""
        from hbsir_old_spark.metadata.corpus import load_corpus
        from hbsir_old_spark.sources.cleaning_scripts import reference_cleaners
        from hbsir_old_spark.sources.external import ExternalDataRegistry

        self.external = ExternalDataRegistry(
            self.spark,
            load_corpus().external_data,
            cleaners={**reference_cleaners(), **dict(cleaners or {})},
            manual_tables=manual_tables,
            fetcher=fetcher,
            cache_dir=cache_dir,
        )
        return self.external

    def _default_cpi(self) -> DataFrame:
        """The reference's default CPI series (SCI, base 1400, annual,
        urban/rural split — api.py:467-496)."""
        if self.external is None:
            raise ValueError(
                "no CPI table given and no external registry attached; "
                "call attach_external() first"
            )
        return self.external.load_named("CPI_1400", "SCI", "Annual", "Urban_Rural")

    def add_cpi(
        self,
        table: DataFrame,
        cpi: DataFrame | None = None,
        on: Sequence[str] | None = None,
    ) -> DataFrame:
        """J4: broadcast join of the CPI dimension (columns: join keys +
        ``CPI``). With ``cpi=None`` the default SCI 1400 annual urban/rural
        series loads through the attached external registry and joins on
        (Urban_Rural, Year), mirroring the reference default — including
        the reference's auto-attach (api.py:505-517): if the fact table
        lacks ``Urban_Rural`` it is derived via the attribute registry for
        the join and dropped afterwards."""
        if cpi is None:
            cpi = self._default_cpi()
            on = on or ("Urban_Rural", "Year")
            drop_after = [
                c for c in on if c == "Urban_Rural" and c not in table.columns
            ]
            if drop_after:
                table = self.add_attribute(table, "Urban_Rural")
            out = table.join(F.broadcast(cpi), list(on), "left")
            return out.drop(*drop_after) if drop_after else out
        return table.join(F.broadcast(cpi), list(on or ("Year",)), "left")

    def adjust_by_cpi(
        self, table: DataFrame, cpi: DataFrame | None, columns: Sequence[str],
        on: Sequence[str] | None = None, base: float = 100.0,
    ) -> DataFrame:
        """P13: deflate nominal columns to real terms (col / CPI * base)."""
        out = self.add_cpi(table, cpi, on)
        for c in columns:
            out = out.withColumn(c, F.col(c) / F.col("CPI") * F.lit(base))
        return out.drop("CPI")

    def adjust_by_equivalence_scale(
        self, table: DataFrame, columns: Sequence[str], scale: str = "OECD_Modified",
        years=None,
    ) -> DataFrame:
        """J5/P14: divide columns by the household equivalence scale."""
        if years is None:
            years = infer_years(table)
        scales = self.load_table("Equivalence_Scale", sorted(years)).select(
            "Year", "ID", F.col(scale).alias("__scale__")
        )
        # equivalence scales are per-household (fact-cardinality): no
        # broadcast hint, AQE decides
        out = table.join(scales, ["Year", "ID"], "left")
        for c in columns:
            out = out.withColumn(c, F.col(c) / F.col("__scale__"))
        return out.drop("__scale__")

    # -- calculators -----------------------------------------------------
    #: variable aliases of the reference quantile family (quantile.py:52-60)
    QUANTILE_VARIABLES = {
        "Income": ("Total_Income", "Income"),
        "Gross_Expenditure": ("Total_Expenditure", "Gross_Expenditure"),
        "Net_Expenditure": ("Total_Expenditure", "Yearly_Expenditure"),
    }

    def add_quantile_by_variable(
        self,
        table: DataFrame,
        variable: str = "Gross_Expenditure",
        bins: int = 10,
        out_col: str | None = None,
        equivalence_scale: str | None = None,
        for_all: bool = True,
        years=None,
    ) -> DataFrame:
        """W3: rank households by a DERIVED variable (Total_Income /
        Total_Expenditure), optionally per-capita via an equivalence scale,
        then attach the bin to the caller's table by (Year, ID) join — the
        reference's positional index assignment becomes a key join
        (SURVEY §7.3). ``for_all=False`` restricts the ranking population to
        the caller's households (quantile.py:115-117)."""
        from hbsir_old_spark.operators.quantile import add_quantile_bin, weighted_ecdf

        if years is None:
            years = infer_years(table)
        source_table, value_col = self.QUANTILE_VARIABLES[variable]
        values = self.load_table(source_table, sorted(years)).select(
            "Year", "ID", F.col(value_col).alias("__value__")
        )
        if equivalence_scale:
            scales = self.load_table("Equivalence_Scale", sorted(years)).select(
                "Year", "ID", F.col(equivalence_scale).alias("__scale__")
            )
            values = (
                values.join(scales, ["Year", "ID"], "left")
                .withColumn("__value__", F.col("__value__") / F.col("__scale__"))
                .drop("__scale__")
            )
        if not for_all:
            values = values.join(table.select("Year", "ID").distinct(), ["Year", "ID"], "left_semi")
        weighted = self.registry.add_weights(values, sorted(years))
        ranked = weighted_ecdf(
            weighted, "__value__", "Weight", group_cols=("Year",),
            out_col="__q__", tiebreaker_cols=("ID",),
        )
        name = out_col or ("Decile" if bins == 10 else "Percentile" if bins == 100 else f"Bin{bins}")
        binned = add_quantile_bin(ranked, "__q__", bins, name).select("Year", "ID", name)
        return table.join(binned, ["Year", "ID"], "left")

    def frame(self, df: DataFrame):
        """P22 sugar: ``engine.frame(df).view.original``."""
        from hbsir_old_spark.hbsframe import HBSFrame

        return HBSFrame(df, self)

    def average_table(self, table: DataFrame, **kwargs) -> DataFrame:
        return average_table_op(table, **kwargs)

    def add_decile(self, table: DataFrame, value_col: str, **kwargs) -> DataFrame:
        kwargs.setdefault("group_cols", ("Year",))
        kwargs.setdefault("weight_col", "Weight")
        kwargs.setdefault("tiebreaker_cols", ("ID",))
        return add_decile_op(table, value_col, **kwargs)

    def add_percentile(self, table: DataFrame, value_col: str, **kwargs) -> DataFrame:
        kwargs.setdefault("group_cols", ("Year",))
        kwargs.setdefault("weight_col", "Weight")
        kwargs.setdefault("tiebreaker_cols", ("ID",))
        return add_percentile_op(table, value_col, **kwargs)


def parquet_base_loader(spark: SparkSession, root: str) -> BaseLoader:
    """Base loader over the working layout ``{root}/{year}_{table}.parquet``
    (reference data_engine.py:231-234). Each file is opened once per
    version: every call re-stats it and returns the frame read last time
    while its :func:`~hbsir_old_spark.sources.frames.path_identity` is
    unchanged, re-reads it after an overwrite and returns None once it is
    gone. ``stats_fn`` reports the same identity to ``cache_result``
    fingerprints."""
    import os

    from hbsir_old_spark.sources.frames import parquet_reader, path_identity

    read = parquet_reader()

    def load(name: str, year: int):
        return read(spark, os.path.join(root, f"{year}_{name}.parquet"))

    def stats(name: str, year: int):
        return path_identity(os.path.join(root, f"{year}_{name}.parquet"))

    load.stats_fn = stats  # picked up by dependency_fingerprint
    return load


def partitioned_base_loader(spark: SparkSession, root: str) -> BaseLoader:
    """Base loader over the cluster layout ``{root}/{table}/Year=YYYY/...``
    (written by ``sources.writer.write_partitioned``). Each per-year request
    is a Year-filter over the partitioned table, so the scan prunes to one
    directory — the registry's per-year planning and parquet partition
    pruning line up exactly. The table-level frame is opened once per
    version of the table directory (statted on every call, re-read when
    any partition file changes); ``stats_fn`` is the identity of the
    ``Year=YYYY`` directory, so rewriting a partition invalidates the
    ``cache_result`` tables built on that year."""
    import os

    from pyspark.sql import functions as F

    from hbsir_old_spark.sources.frames import parquet_reader, path_identity

    read = parquet_reader()

    def load(name: str, year: int):
        path = os.path.join(root, name)
        if not os.path.isdir(os.path.join(path, f"Year={year}")):
            return None
        df = read(spark, path)
        return None if df is None else df.filter(F.col("Year") == year)

    def stats(name: str, year: int):
        return path_identity(os.path.join(root, name, f"Year={year}"))

    load.stats_fn = stats  # picked up by dependency_fingerprint
    return load


# -- project scaffolding (reference api.py:659-693) ---------------------------


def setup_config(project_dir: str, replace: bool = False) -> str:
    """Reference ``setup_config`` (api.py:659-677): materialize the package
    default settings as an editable ``settings.yaml`` in ``project_dir``.
    The reference copies its ``settings-sample.yaml`` into the user's data
    root; here the same defaults live in
    :data:`~hbsir_old_spark.metadata.settings.PACKAGE_DEFAULTS`, so the
    file is generated from them — edit it, then feed it back through
    :func:`load_settings_file` (or ``HBSIREngine(settings=...)``).
    Existing files are kept unless ``replace=True``. Returns the path."""
    import os

    import yaml

    from hbsir_old_spark.metadata.settings import PACKAGE_DEFAULTS

    os.makedirs(project_dir, exist_ok=True)
    dst = os.path.join(project_dir, "settings.yaml")
    if os.path.exists(dst) and not replace:
        return dst
    header = (
        "# hbsir_old_spark project settings (generated by setup_config).\n"
        "# Every key overrides the package default of the same path;\n"
        "# delete what you don't change.\n"
    )
    with open(dst, "w") as f:
        f.write(header + yaml.safe_dump(PACKAGE_DEFAULTS, sort_keys=False))
    return dst


def load_settings_file(project_dir: str) -> dict:
    """Read ``{project_dir}/settings.yaml`` (as written by
    :func:`setup_config`, possibly edited) into the override mapping the
    engine constructors accept — the project layer of the reference's
    settings cascade (metadata_reader.py:216-256). Missing file -> empty
    overrides (package defaults apply)."""
    import os

    import yaml

    path = os.path.join(project_dir, "settings.yaml")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return yaml.safe_load(f) or {}


def setup_metadata(project_dir: str, replace: bool = False) -> str:
    """Reference ``setup_metadata`` (api.py:680-693): copy the packaged
    metadata corpus into ``{project_dir}/metadata`` so individual files can
    be edited locally; point
    ``HBSIREngine.with_reference_corpus(local_metadata_dir=...)`` at the
    returned directory and edited files take precedence over the packaged
    ones (the local-override hook, metadata/corpus.py). Per-file semantics
    match the reference: existing files are kept unless ``replace=True``.
    Returns the metadata directory path."""
    import os
    import shutil

    from hbsir_old_spark.metadata.corpus import PACKAGE_YAML_DIR

    dst_dir = os.path.join(project_dir, "metadata")
    os.makedirs(dst_dir, exist_ok=True)
    for name in sorted(os.listdir(PACKAGE_YAML_DIR)):
        src = os.path.join(str(PACKAGE_YAML_DIR), name)
        if not os.path.isfile(src):
            continue
        dst = os.path.join(dst_dir, name)
        if os.path.exists(dst) and not replace:
            continue
        shutil.copy(src, dst)
    return dst_dir
