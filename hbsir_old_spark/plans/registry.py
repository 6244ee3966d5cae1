"""Table registry: schema-driven derived-table builder with dependency
resolution, availability pruning, and fingerprint caching.

Reference parity: TableFactory/TableHandler
(/root/reference/hbsir/core/data_engine.py:462-679) — per-year recursive
construction of standard tables from original tables via instruction
pipelines, multi-year union, availability pruning
(parsing_utils.py:104-143), cache_result fingerprinting (data_engine.py:
515-610).

Differences by design: there is ONE processed-build path, the era-batched
build. Requested years are grouped into eras (years whose resolved spec is
the same up to row-wise drift); each era's member/base frames are unioned
with a hidden ``PIPELINE_YEAR`` tag and its instructions compile once
(:meth:`PipelineCompiler.apply_batched`). A single year is an era of one.
Nothing runs eagerly (no thread pool — Spark's scheduler parallelizes
scans), and the multi-year result is one lazy plan, so Catalyst sees the
whole multi-year query at once. ``cache_result`` tables are fingerprinted,
read and written per year inside that build.
"""

from __future__ import annotations

import copy
from typing import Any, Callable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbsir_old_spark.metadata.ranges import CodeRangeSet
from hbsir_old_spark.metadata.versioning import is_versioned, resolve_versioned
from hbsir_old_spark.operators.attributes import attribute_column
from hbsir_old_spark.operators.classification import (
    add_classification as add_classification_op,
    build_classification_dim,
)
from hbsir_old_spark.operators.reshape import union_tables
from hbsir_old_spark.plans.pipeline import PIPELINE_YEAR, PipelineCompiler, tag_year
from hbsir_old_spark.sources.cache import FingerprintCache, stable_fingerprint
from hbsir_old_spark.sources.partitions import infer_years

BaseLoader = Callable[[str, int], "DataFrame | None"]


def _reference_column_names(
    aspects: Sequence[str],
    levels: Sequence[int],
    names: Sequence[str] | None,
) -> dict[str, str]:
    """Translate the reference's positional ``column_names`` /
    ``output_column_names`` list (DecoderSettings._resolve_column_names,
    decoder.py:290-307: aspect-major ``product(aspects, levels)`` order,
    with an ``{name}_{level}`` expansion when one name is given per aspect)
    into the engine's ``{default_name: new_name}`` dict."""
    if not names:
        return {}
    from itertools import product

    names = list(names)
    if len(names) == len(aspects) * len(levels):
        flat = names
    elif len(names) == len(aspects):
        flat = [f"{n}_{lvl}" for n, lvl in product(names, levels)]
    else:
        return {}

    def default_name(aspect: str, level: int) -> str:
        return (
            f"{aspect}_{level}"
            if len(levels) > 1 or len(aspects) > 1
            else aspect
        )

    return {
        default_name(a, lvl): new
        for (a, lvl), new in zip(product(aspects, levels), flat)
    }


#: instruction methods whose per-year argument drift merges into ONE
#: year-conditional step instead of splitting the compile group:
#: apply_filter always (row-wise predicate); create_column only when
#: every year's variant is numerical-or-skipped with one shared name
#: (checked in _merge_variants — unmergeable positions force a resplit)
_VARIANT_METHODS = ("apply_filter", "create_column")


def _step_method(step):
    if isinstance(step, str):
        return step
    if isinstance(step, Mapping) and len(step) == 1:
        return next(iter(step))
    return None


def _split_variants(spec):
    """(spec with variant-method args masked, masked args in step order) —
    the era-grouping key ignores those literals so that years differing
    only in row-wise drift (exclusion lists, versioned expressions like
    the 1383 Amount switch) share one compile group."""
    if not isinstance(spec, Mapping) or not spec.get("instructions"):
        return spec, []
    key_steps: list = []
    variants: list = []
    for step in spec["instructions"]:
        method = _step_method(step)
        if method in _VARIANT_METHODS:
            key_steps.append({method: "__year_variant__"})
            variants.append(None if isinstance(step, str) else step[method])
        else:
            key_steps.append(step)
    return {**spec, "instructions": key_steps}, variants


def _merge_variants(instructions, year_variants: Mapping[int, list]):
    """Reinsert year-variant args into a representative instruction list:
    positions where every year agrees keep the plain step; drifting
    apply_filter positions become one ``apply_filter_by_year`` step and
    drifting numerical create_column positions one
    ``create_column_by_year`` step. Returns None when a position cannot
    merge (mixed categorical/renamed variants) — the caller re-splits
    those years by full spec fingerprint."""
    merged: list = []
    idx = 0
    for step in instructions:
        method = _step_method(step)
        if method not in _VARIANT_METHODS:
            merged.append(step)
            continue
        variants = {y: v[idx] for y, v in year_variants.items()}
        idx += 1
        fps = {stable_fingerprint(v) for v in variants.values()}
        if len(fps) == 1:
            merged.append({method: next(iter(variants.values()))})
            continue
        if method == "apply_filter":
            merged.append({"apply_filter_by_year": variants})
            continue
        # create_column: mergeable iff every non-None variant is numerical
        # with the same target name
        specs = [v for v in variants.values() if v is not None]
        names = {v.get("name") for v in specs}
        types = {v.get("type") for v in specs}
        if len(names) != 1 or types != {"numerical"}:
            return None
        merged.append(
            {"create_column_by_year": {"name": next(iter(names)), "variants": variants}}
        )
    return merged


class TableRegistry:
    """Builds tables from a schema dict (the engine's declarative DSL —
    year-versionable anywhere, same resolver as the reference's YAML).

    Schema entry forms::

        name:
          table_list: [member, ...]     # derived: union members, then pipeline
          instructions: [step, ...]     # pipeline (PipelineCompiler set)
          cache_result: true            # fingerprint-cached materialization
          years: <range spec>           # availability pruning

    ``metadata`` carries the decoder inputs: ``household`` (ID lengths,
    attribute digit positions, code maps) and ``classifications``.
    """

    def __init__(
        self,
        spark: SparkSession,
        schema: Mapping[str, Any] | None = None,
        metadata: Mapping[str, Any] | None = None,
        base_loader: BaseLoader | None = None,
        external_functions: Mapping[str, Callable] | None = None,
        cache: FingerprintCache | None = None,
        weight_year_threshold: int = 1395,
        raw_loader: BaseLoader | None = None,
        cleaning_metadata: Mapping[str, Mapping] | None = None,
    ):
        self.spark = spark
        self.metadata = dict(metadata or {})
        self.base_loader = base_loader
        self.raw_loader = raw_loader
        self.cleaning_metadata = dict(cleaning_metadata or {})
        self.cache = cache
        self.weight_year_threshold = weight_year_threshold
        self.compiler = PipelineCompiler(registry=self, external_functions=external_functions)
        self._set_schema(schema or {})

    def _set_schema(self, schema: Mapping[str, Any]) -> None:
        self.schema = dict(schema)
        self._availability: dict[str, CodeRangeSet] = {
            name: CodeRangeSet(spec["years"])
            for name, spec in self.schema.items()
            if isinstance(spec, Mapping) and "years" in spec
        }

    def with_schema(self, schema: Mapping[str, Any]) -> "TableRegistry":
        """A copy of this registry that differs only in its schema: loaders,
        metadata, cache, external functions and every other setting carry
        over."""
        clone = copy.copy(self)
        clone.compiler = PipelineCompiler(
            registry=clone, external_functions=self.compiler.external_functions
        )
        clone._set_schema(schema)
        return clone

    # -- availability ----------------------------------------------------
    def is_available(self, name: str, year: int) -> bool:
        crs = self._availability.get(name)
        return True if crs is None else year in crs

    def available_years(self, name: str, years: Sequence[int]) -> list[int]:
        return [y for y in years if self.is_available(name, y)]

    def require_available(self, name: str, years: Sequence[int]) -> None:
        """Raise the unavailable-table error for the years of ``years`` the
        schema does not declare ``name`` available in. Joins need this: a
        join over a partly available table would silently drop or NULL
        the uncovered years' rows instead of failing."""
        missing = [y for y in years if not self.is_available(name, y)]
        if missing:
            raise self._unavailable_error(name, missing, "processed")

    # -- build -----------------------------------------------------------
    def load_table(
        self, name: str, years: Sequence[int], form: str = "processed"
    ) -> DataFrame:
        """Load a table in one of the reference's three forms
        (reference api.py:65-97,167-191):

        * ``raw`` — the survey data as acquired, untyped (original tables
          only; served by the ``raw_loader``);
        * ``cleaned`` — typed/renamed/label-decoded columns, no value
          changes (original tables only; the materialized base layer when
          the ``base_loader`` serves it, else derived raw -> ``clean_table``);
        * ``processed`` — the full derived pipeline (default; standard
          tables exist only in this form).
        """
        if form not in ("processed", "cleaned", "raw"):
            raise ValueError(
                f"form must be 'processed', 'cleaned' or 'raw', got {form!r}"
            )
        if form == "processed":
            return self.load_tagged(name, years).drop(PIPELINE_YEAR)
        parts = []
        for year in self.available_years(name, years):
            spec = self._schema_spec(name, year)
            if spec is not None and "table_list" in spec:
                raise ValueError(
                    f"{name!r} is a standard (derived) table; standard "
                    "tables are only available in form='processed' "
                    "(reference api.py:168-171,178-181)"
                )
            df = (
                self._load_raw(name, year)
                if form == "raw"
                else self._load_cleaned(name, year)
            )
            if df is not None:
                parts.append(df)
        if not parts:
            raise self._unavailable_error(name, list(years), form)
        return union_tables(parts)

    def load_tagged(self, name: str, years: Sequence[int]) -> DataFrame:
        """The processed form of ``name`` with the hidden ``PIPELINE_YEAR``
        tag still attached (what the ``join`` instruction keys on)."""
        parts = self._build_years_batched(name, list(years))
        if not parts:
            raise self._unavailable_error(name, list(years), "processed")
        return union_tables(parts)

    def _unavailable_error(
        self, name: str, years: list, form: str
    ) -> ValueError:
        missing = self._missing_dependencies(name, years)
        hint = (
            f"; no data for dependency table(s) {sorted(missing)} in any "
            "requested year — check the schema's table_list spelling and "
            "the base/raw loader coverage"
            if missing
            else ""
        )
        return ValueError(
            f"table {name!r} unavailable for years {years} (form={form!r}){hint}"
        )

    def _load_raw(self, name: str, year: int) -> DataFrame | None:
        if self.raw_loader is None:
            raise ValueError(
                f"form='raw' requested for {name!r} but no raw loader is "
                "configured on this registry"
            )
        return self.raw_loader(name, year)

    def _load_cleaned(self, name: str, year: int) -> DataFrame | None:
        """The cleaned layer: prefer the materialized base table (the saved
        cleaned parquet, reference TableHandler.read_table), else derive it
        raw -> ``clean_table`` on the fly (reference on_missing='create')."""
        if self.base_loader is not None:
            df = self.base_loader(name, year)
            if df is not None:
                return df
        found = self._raw_to_clean(name, year)
        if found is None:
            return None
        from hbsir_old_spark.sources.cleaner import clean_table

        return clean_table(*found, year)

    def _raw_to_clean(
        self, name: str, year: int
    ) -> "tuple[DataFrame, Mapping] | None":
        """(raw frame, cleaning metadata) for deriving the cleaned form of
        ``name`` in ``year``, or None when there is nothing to clean."""
        if self.raw_loader is None:
            return None
        # with a base loader also configured, the base layer is the
        # registry's cleaned source of record, so a raw table with no
        # cleaning metadata is simply unavailable for this year (not an
        # error — raising here would turn every processed build touching
        # the table into a hard failure); skip the raw probe entirely.
        meta = self.cleaning_metadata.get(name)
        if meta is None and self.base_loader is not None:
            return None
        # raw-only registry: probe raw FIRST — a table the raw source
        # simply doesn't carry must prune gracefully (return None), and
        # only a table that HAS raw data but no metadata to clean it is
        # a configuration error.
        raw = self.raw_loader(name, year)
        if raw is None:
            return None
        if meta is None:
            raise KeyError(
                f"raw table {name!r} has no cleaning metadata; cannot "
                "derive its cleaned form"
            )
        return raw, meta

    def _missing_dependencies(self, name: str, years: Sequence[int]) -> set[str]:
        """Diagnostic walk (error-path only): leaf dependencies of ``name``
        — tables referenced by some ``table_list`` but declared nowhere in
        the schema — that no loader served for ANY requested year. These are
        what a user debugging an ad-hoc ``create_table_with_schema`` schema
        needs named (the build itself reports only the queried table)."""
        missing: set[str] = set()
        seen: set[str] = set()

        def leaf_served(table: str) -> bool:
            for year in years:
                # broad except: this walk runs on the error path only — a
                # loader that raises (instead of returning None) must read
                # as "not served", never mask the ValueError being built
                try:
                    if self._load_cleaned(table, year) is not None:
                        return True
                except Exception:
                    continue
            return False

        def walk(table: str) -> None:
            if table in seen:
                return
            seen.add(table)
            if table not in self.schema:
                if (
                    self.base_loader is not None or self.raw_loader is not None
                ) and not leaf_served(table):
                    missing.add(table)
                return
            for year in years:
                spec = self._schema_spec(table, year)
                if spec is None:
                    continue
                members = spec.get("table_list")
                if not members:
                    continue
                members = [members] if isinstance(members, str) else list(members)
                for member in members:
                    walk(member)

        walk(name)
        return missing

    def _schema_spec(self, name: str, year: int) -> Mapping | None:
        raw = self.schema.get(name)
        if raw is None:
            return None
        resolved = resolve_versioned(raw, year)
        return resolved if isinstance(resolved, Mapping) else None

    # -- era-batched build ----------------------------------------------
    def _build_years_batched(
        self, name: str, years: Sequence[int]
    ) -> list[DataFrame]:
        """Era-batched recursive build: one instruction application per
        DISTINCT RESOLVED SPEC instead of one per year.

        Year-versioned metadata partitions the requested years into eras
        (years whose ``resolve_versioned`` output is identical — compared
        by fingerprint). Per era, member/base frames are unioned with a
        hidden ``PIPELINE_YEAR`` tag and the era's instructions compile
        ONCE via :meth:`PipelineCompiler.apply_batched`. For the 39-year
        reference workload this turns one compile per year into one per
        era (~10 for food), while the executed plan is the same scan ->
        map -> aggregate shape with identical row semantics (proven
        per-gate by the DuckDB oracles and the era-vs-year-by-year
        equality tests). ``cache_result`` tables are handled year by year
        (the fingerprint cache is year-keyed), see :meth:`_cached_year`.
        Returns tagged frames, one or more per era."""
        groups: dict[str, list[int]] = {}
        spec_by_fp: dict[str, Mapping | None] = {}
        variants_by_fp: dict[str, dict[int, Any]] = {}
        for year in self.available_years(name, years):
            spec = self._schema_spec(name, year)
            # years whose specs differ ONLY in row-wise drift — filter
            # literals or versioned numerical expressions (the real corpus
            # versions food's exclusion lists three years running and the
            # Amount formula at 1383) — still share one era: the drift
            # merges into year-conditional predicates/expressions
            key_spec, year_variants = _split_variants(spec)
            fp = stable_fingerprint(key_spec)
            groups.setdefault(fp, []).append(year)
            spec_by_fp[fp] = spec
            variants_by_fp.setdefault(fp, {})[year] = year_variants

        # one batched-loader call for the whole span (not one per spec
        # group): each call materializes every layout-era frame, so
        # per-group calls built eras x groups frames and threw most away
        prefetched = None
        load_years = getattr(self.raw_loader, "load_years", None)
        if load_years is not None and any(
            spec is None or "table_list" not in spec
            for spec in spec_by_fp.values()
        ):
            all_years = sorted(y for ys in groups.values() for y in ys)
            prefetched = load_years(name, all_years) or []

        out: list[DataFrame] = []
        for fp, ys in groups.items():
            spec = spec_by_fp[fp]
            if spec is None:
                out.extend(self._base_frames_batched(name, ys, prefetched))
                continue
            if spec.get("cache_result") and self.cache is not None:
                cached = (self._cached_year(name, y, prefetched) for y in ys)
                out.extend(df for df in cached if df is not None)
                continue
            instructions = _merge_variants(
                spec.get("instructions") or [], variants_by_fp[fp]
            )
            if instructions is not None:
                compile_groups = [(spec, ys, instructions)]
            else:
                # a create_column position with unmergeable variants
                # (renamed targets or categorical specs): re-split by FULL
                # spec fingerprint — within a subgroup every variant
                # agrees, so the merge is trivially exact
                subgroups: dict[str, tuple[Mapping, list[int]]] = {}
                for y in ys:
                    full = self._schema_spec(name, y)
                    sub_fp = stable_fingerprint(full)
                    subgroups.setdefault(sub_fp, (full, []))[1].append(y)
                compile_groups = [
                    (full, sub_ys, full.get("instructions") or [])
                    for full, sub_ys in subgroups.values()
                ]
            for group_spec, group_years, group_instructions in compile_groups:
                df = self._compile_group(
                    name, group_spec, group_years, group_instructions, prefetched
                )
                if df is not None:
                    out.append(df)
        return out

    def _compile_group(
        self,
        name: str,
        spec: Mapping,
        years: Sequence[int],
        instructions,
        prefetched,
    ) -> DataFrame | None:
        """One era: union its tagged member (derived table) or base frames
        and compile its instructions once over the union."""
        if "table_list" in spec:
            members = spec["table_list"]
            if members is None:
                # versioned member list resolving to null: the derived
                # table does not exist this era (e.g. Cash_Incomes before
                # 1369) — prune like any other unavailable table
                return None
            members = [members] if isinstance(members, str) else list(members)
            parts = [
                df for member in members
                for df in self._build_years_batched(member, years)
            ]
        else:
            parts = self._base_frames_batched(name, years, prefetched)
        if not parts:
            return None
        return self.compiler.apply_batched(
            union_tables(parts), instructions, years, name
        )

    def _cached_year(self, name: str, year: int, prefetched) -> DataFrame | None:
        """One tagged year of a ``cache_result`` table: read from the
        fingerprint cache, or built as a one-year era from that year's own
        spec and written there (cache files hold the untagged frame)."""
        fingerprint = self.dependency_fingerprint(name, year)
        df = self.cache.get(self.spark, name, year, fingerprint)
        if df is None:
            spec = self._schema_spec(name, year)
            built = self._compile_group(
                name, spec, [year], spec.get("instructions") or [], prefetched
            )
            if built is None:
                return None
            df = self.cache.put(built.drop(PIPELINE_YEAR), name, year, fingerprint)
        return tag_year(df, year)

    def _base_frames_batched(
        self,
        name: str,
        years: Sequence[int],
        prefetched: "list[tuple[Sequence[int], DataFrame]] | None",
    ) -> list[DataFrame]:
        """Tagged cleaned-layer frames for a group of years. Base-loader
        (materialized parquet) years stay one frame per year; raw-derived
        years group by resolved cleaning metadata so each cleaning era is
        ONE select over the union of its raw frames — the multi-year twin
        of :func:`clean_table`'s single-projection contract."""
        from hbsir_old_spark.sources.cleaner import clean_table_resolved

        out: list[DataFrame] = []
        raw_groups: dict[str, tuple[Mapping, list[DataFrame]]] = {}
        meta = self.cleaning_metadata.get(name)
        remaining: list[int] = []
        for year in years:
            if self.base_loader is not None:
                df = self.base_loader(name, year)
                if df is not None:
                    out.append(tag_year(df, year))
                    continue
            remaining.append(year)
        years = remaining
        # optional batched-loader protocol: a loader exposing
        # ``load_years(name, years) -> [(years_covered, tagged_frame)]``
        # serves each file-layout era as ONE frame (e.g. one scan of a
        # year-partitioned directory with PIPELINE_YEAR from the partition
        # column) instead of one frame per year — at 39 years the per-year
        # py4j/analysis round-trips are the dominant driver cost, and at
        # cluster scale one pruned scan per era is the right plan anyway.
        # ``prefetched`` is that call's result for the whole requested span
        # (made once in _build_years_batched), None without such a loader.
        if years and meta is not None:
            for full_covered, frame in prefetched or []:
                covered = [y for y in full_covered if y in years]
                if not covered:
                    continue
                era_groups: dict[str, tuple[Mapping, list[int]]] = {}
                for y in covered:
                    resolved = resolve_versioned(meta, y) or {}
                    fp = stable_fingerprint(resolved)
                    era_groups.setdefault(fp, (resolved, []))[1].append(y)
                for resolved, era_years in era_groups.values():
                    # the frame may carry years beyond this build's group
                    # (one prefetch serves every spec group): slice unless
                    # the era is exactly the frame's full coverage
                    sub = (
                        frame
                        if set(era_years) == set(full_covered)
                        else frame.filter(
                            F.col(PIPELINE_YEAR).isin([int(y) for y in era_years])
                        )
                    )
                    out.append(
                        clean_table_resolved(
                            sub, resolved, passthrough=(PIPELINE_YEAR,)
                        )
                    )
                years = [y for y in years if y not in covered]
            if not years:
                return out
        for year in years:
            found = self._raw_to_clean(name, year)
            if found is None:
                continue
            raw, _ = found
            resolved = resolve_versioned(meta, year) or {}
            # the RAW SCHEMA is part of the era key: the metadata names
            # every historical layout's columns (COL* and DYCOL* both map
            # to Code), so identical resolved metadata can still clean
            # different file layouts — only same-layout years may share
            # the one-select clean
            fp = stable_fingerprint([resolved, list(raw.columns)])
            raw_groups.setdefault(fp, (resolved, []))[1].append(
                tag_year(raw, year)
            )
        for resolved, frames in raw_groups.values():
            out.append(
                clean_table_resolved(
                    union_tables(frames), resolved, passthrough=(PIPELINE_YEAR,)
                )
            )
        return out

    # -- fingerprints ----------------------------------------------------
    def dependency_fingerprint(self, name: str, year: int) -> str:
        """Fingerprint of the resolved schema subtree rooted at ``name``,
        including base-file size/mtime stats when the base loader exposes a
        ``stats_fn`` (reference parity: extract_dependencies records base
        file sizes, data_engine.py:48-92 — without this, overwritten source
        parquet would serve stale cached derivations)."""
        stats_fn = getattr(self.base_loader, "stats_fn", None)

        def walk(table: str) -> Any:
            spec = self._schema_spec(table, year)
            node: dict[str, Any] = (
                {"base": table} if spec is None else {"spec": spec}
            )
            # every table without members reads a base file — also an
            # original table whose schema entry only adds pipeline steps
            if stats_fn is not None and (spec is None or "table_list" not in spec):
                node["stat"] = stats_fn(table, year)
            if spec is None:
                return node
            members = spec.get("table_list")
            if members:
                members = [members] if isinstance(members, str) else list(members)
                # availability-pruned members cannot affect the result, so
                # their base files must not key (or spuriously invalidate)
                # the cache
                node["deps"] = {
                    m: walk(m) if self.is_available(m, year) else {"unavailable": m}
                    for m in members
                }
            return node
        return stable_fingerprint({"table": name, "year": year, "tree": walk(name)})

    # -- enrichment (J2/J3 decoders) -------------------------------------
    def add_weights(
        self,
        df: DataFrame,
        years: Sequence[int],
        adjust_for_household_size: bool = False,
    ) -> DataFrame:
        """J3: per-year weights — ``household_information.Weight`` for years
        above the threshold, the external ``weights`` table otherwise
        (reference data_engine.py:682-786); left join on (Year, ID)."""
        recent = [y for y in years if y > self.weight_year_threshold]
        old = [y for y in years if y <= self.weight_year_threshold]
        parts = []
        if recent:
            info = self.load_table("household_information", recent)
            parts.append(info.select("Year", "ID", "Weight"))
        if old:
            external = self.load_table("weights", old)
            parts.append(external.select("Year", "ID", "Weight"))
        weights = union_tables(parts)
        if adjust_for_household_size:
            members = self.load_table("Number_of_Members", list(years))
            weights = (
                weights.join(members.select("Year", "ID", "Members"), ["Year", "ID"], "left")
                .withColumn("Weight", F.col("Weight") * F.coalesce(F.col("Members"), F.lit(1)))
                .drop("Members")
            )
        # weights are PER-HOUSEHOLD (fact-cardinality), not a dimension —
        # no broadcast hint; AQE picks broadcast only when genuinely small
        return df.join(weights, ["Year", "ID"], "left")

    def add_classification(
        self,
        df: DataFrame,
        name: str = "original",
        years: Sequence[int] | None = None,
        levels: Sequence[int] | None = None,
        aspects: Sequence[str] | None = None,
        code_col: str | None = None,
        year_col: str = "Year",
        column_names: Mapping[str, str] | None = None,
        drop_value: bool = False,
        classification_type: str = "commodity",
    ) -> DataFrame:
        """J1: classification labels via the broadcast range-join decoder.
        Defaults (levels/aspects/column names/missing replacements) come
        from the classification's own metadata, like DecoderSettings
        (reference decoder.py:226-323). ``classification_type`` picks the
        family — ``"commodity"`` (commodities.yaml, default code column
        ``Code``) or ``"occupation"`` (occupations.yaml, default
        ``Job_Code``) — mirroring decoder.py:65-105,254-275."""
        if classification_type == "commodity":
            meta = self.metadata["classifications"][name]
            code_col = code_col or "Code"
        elif classification_type == "occupation":
            meta = self.metadata["occupation_classifications"][name]
            code_col = code_col or "Job_Code"
        else:
            raise ValueError(
                f"classification_type must be 'commodity' or 'occupation', "
                f"got {classification_type!r}"
            )
        defaults = meta.get("defaults", {})
        levels = tuple(levels or defaults.get("levels") or (1,))
        aspects = tuple(aspects or defaults.get("aspects") or ("item_key",))
        missing = defaults.get("missing_value_replacements") or {}
        if not column_names:
            column_names = _reference_column_names(
                aspects,
                levels,
                defaults.get("column_names")
                or defaults.get("output_column_names"),
            )
        if years is None:
            years = infer_years(df, year_col)
        dim = build_classification_dim(meta, years=sorted(years), aspects=aspects)
        out = add_classification_op(
            df,
            dim,
            code_col=code_col,
            year_col=year_col,
            levels=levels,
            aspects=aspects,
            column_names=dict(column_names or {}),
            missing_value_replacements=missing,
        )
        return out.drop(code_col) if drop_value else out

    def _household_positions(self, attribute: str):
        """Fold id-length drift, digit-position drift, and (for the real
        household.yaml) label-mapping drift into one boundary->tuple dict
        for :func:`attribute_column`. A position version of ``None`` (the
        attribute is absent from the ID those years) yields (len, None,
        None, mapping) — the decoder emits null over that span."""
        household = self.metadata["household"]
        lengths: Mapping[int, int] = household["id_length"]
        spec = household["attributes"][attribute]
        positions: Mapping[int, Mapping[str, int] | None] = spec["position"]
        mapping = spec.get("mapping")
        mapping_versioned = is_versioned(mapping) if isinstance(mapping, Mapping) else False
        boundaries = set(lengths) | set(positions)
        if mapping_versioned:
            boundaries |= set(mapping)
        out = {}
        for boundary in sorted(boundaries):
            applicable = [k for k in lengths if k <= boundary]
            if not applicable:
                continue  # before the survey's first ID layout
            id_length = lengths[max(applicable)]
            pos_keys = [k for k in positions if k <= boundary]
            pos = positions[max(pos_keys)] if pos_keys else None
            m = (
                resolve_versioned(mapping, boundary)
                if mapping_versioned
                else mapping
            )
            if pos is None:
                out[boundary] = (id_length, None, None, m)
            else:
                out[boundary] = (id_length, pos["start"], pos["end"], m)
        return out

    def add_attribute(
        self,
        df: DataFrame,
        name: str,
        id_col: str = "ID",
        year_col: str = "Year",
        column_name: str | None = None,
    ) -> DataFrame:
        """J2: decode a household attribute from ID digits — one vectorized
        year-branched expression, no join, no UDF."""
        # per-boundary mappings ride in the position tuples (they may be
        # year-versioned in the real household.yaml)
        col = attribute_column(id_col, year_col, self._household_positions(name))
        return df.withColumn(column_name or name, col)

    def select_by_attribute(
        self, df: DataFrame, name: str, values: Sequence
    ) -> DataFrame:
        """F2: decode-filter-drop, with the predicate left as pure ID/Year
        arithmetic so it can push toward the scan."""
        col = attribute_column("ID", "Year", self._household_positions(name))
        return df.filter(col.isin(list(values)))
