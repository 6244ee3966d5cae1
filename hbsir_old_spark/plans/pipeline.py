"""Pipeline instruction compiler.

The reference interprets a YAML instruction list eagerly, one pandas step at
a time (/root/reference/hbsir/core/data_engine.py:282-449). Here every
instruction compiles to a lazy ``DataFrame -> DataFrame`` transformation, so
a whole table build is ONE Catalyst plan: filters push into scans, projections
fuse, joins get planned globally (SURVEY §4 — this is the headline
architectural win over the reference's eager execution).

There is one compile path, :meth:`PipelineCompiler.apply_batched`: it runs
an instruction list once over a multi-year frame whose rows carry the hidden
``PIPELINE_YEAR`` tag (an "era" of years sharing one resolved spec). A single
year is an era of one — :meth:`PipelineCompiler.apply` tags, compiles and
drops the tag. Every instruction has exactly one handler, written so that
running it over the era equals running it year by year.

Instruction set (reference parity + the two declarative replacements for
embedded pandas eval — SURVEY §2.2 P20):

* ``add_year`` / ``add_table_name`` — provenance columns (P6)
* ``create_column`` — numerical expressions over coalesce(col, 0)-wrapped
  operands (P7; only operands named in the expression are filled, matching
  data_engine.py:362-367) and categorical when-chains with the reference's
  LAST-assignment-wins semantics over the pre-step snapshot (P8,
  data_engine.py:370-405)
* ``apply_filter`` — pandas-query strings translated to SQL (F1)
* ``apply_order`` — final projection with optional per-column dtypes (P9)
* ``aggregate`` — declarative groupby-sum (replaces pandas eval A1 uses)
* ``melt`` — declarative wide->long (replaces pandas stack, P18)
* ``join`` — inner join with another registry table on listed columns (J6)
* ``add_weights`` — weights join (J3), via the registry
* ``add_classification`` / ``add_attribute`` — J1/J2 decoders
* ``apply_external_function`` — named transform registry (X1; arbitrary
  ``module.fn`` import is replaced by an explicit allowlist)
* ``apply_filter_by_year`` / ``create_column_by_year`` — emitted by the
  registry when years of one era differ only in a filter or numerical
  expression: one year-conditional predicate / expression

Steps whose year-resolved input is ``None`` are skipped (versioned
disable, e.g. "1369: null" — metadata_utils semantics).
"""

from __future__ import annotations

import re
from typing import Any, Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hbsir_old_spark.operators.reshape import melt as melt_op
from hbsir_old_spark.operators.reshape import union_tables
from hbsir_old_spark.plans.filters import translate_pandas_query

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


class _NeedsFlush(Exception):
    """A batched column expression references a pending column it cannot
    inline (non-SQL payload) — the caller must flush and recompile."""


class _ColumnBatch:
    """Pending column assignments with withColumn-identical semantics.

    * names resolve CASE-INSENSITIVELY, like Spark's analyzer: assigning
      ``Amount`` when ``amount`` exists replaces it in place (renaming to
      the assigned spelling), never appends a duplicate;
    * re-assignment keeps the first position (dict insertion order on the
      folded key), matching sequential withColumn replacement;
    * ``flush`` emits ONE ``select`` — a single analysis pass for the
      whole run of assignments.
    """

    def __init__(self) -> None:
        #: folded name -> (assigned spelling, Column | SQL text)
        self._items: "dict[str, tuple[str, Column | str]]" = {}

    def __bool__(self) -> bool:
        return bool(self._items)

    def assign(self, name: str, payload: "Column | str") -> None:
        # dict re-assignment keeps first-insertion order for the folded
        # key (first position) while adopting the latest spelling+payload
        self._items[name.lower()] = (name, payload)

    def payload(self, name: str) -> "Column | str | None":
        item = self._items.get(name.lower())
        return item[1] if item is not None else None

    def shadows(self, names) -> bool:
        folded = {n.lower() for n in names}
        return bool(folded & set(self._items))

    def flush(self, df: DataFrame) -> DataFrame:
        if not self._items:
            return df

        def compiled(key: str) -> Column:
            name, payload = self._items[key]
            col = F.expr(payload) if isinstance(payload, str) else payload
            return col.alias(name)

        existing = {c.lower() for c in df.columns}
        exprs = [
            compiled(c.lower()) if c.lower() in self._items else F.col(c)
            for c in df.columns
        ]
        exprs += [compiled(k) for k in self._items if k not in existing]
        out = df.select(*exprs)
        self._items = {}
        return out


#: hidden year tag carried by every processed build (attached to every
#: base frame, copied into ``Year`` by ``add_year``, dropped by
#: ``load_table``)
PIPELINE_YEAR = "__pipeline_year__"


def tag_year(df: DataFrame, year: int) -> DataFrame:
    """``df`` with every row tagged as ``year``."""
    return df.withColumn(PIPELINE_YEAR, F.lit(int(year)))

_TYPE_MAP = {
    "unsigned": "long",
    "integer": "long",
    "float": "double",
    "string": "string",
    "boolean": "boolean",
    "category": "string",
}




class PipelineCompiler:
    """Compiles instruction lists into DataFrame transformations.

    ``registry`` (optional) provides the tagged table loads, availability
    checks and the decoder/weights helpers for the instructions that need
    other tables.
    """

    def __init__(
        self,
        registry: Any | None = None,
        external_functions: Mapping[str, Callable[[DataFrame], DataFrame]] | None = None,
    ):
        self.registry = registry
        self.external_functions = dict(external_functions or {})

    # -- public ----------------------------------------------------------
    def apply(
        self,
        df: DataFrame,
        instructions: Sequence,
        year: int,
        table_name: str,
    ) -> DataFrame:
        """Apply an instruction list to one year's untagged frame (an era
        of one year)."""
        out = self.apply_batched(tag_year(df, year), instructions, [year], table_name)
        return out.drop(PIPELINE_YEAR)

    def apply_batched(
        self,
        df: DataFrame,
        instructions: Sequence,
        years: Sequence[int],
        table_name: str,
    ) -> DataFrame:
        """Apply one RESOLVED instruction list to a year-tagged frame.

        ``df`` is the union of the base frames of ``years`` — a group whose
        resolved spec is identical (the registry's era grouping) — each row
        tagged with the hidden ``PIPELINE_YEAR`` int column. The
        instructions run ONCE over the union instead of once per year —
        driver-side analysis drops from O(years x instructions) to
        O(eras x instructions) — with per-year semantics:

        * row-wise steps (create_column / filters / decoders) are
          year-oblivious;
        * ``add_year`` copies the tag;
        * aggregations/melts/projections carry the tag through; aggregate
          and join additionally key on it, so neither mixes years;
        * ``add_weights``/``add_classification`` receive the whole year
          group (their joins/dims are year-keyed).

        Runs of column assignments (``add_year`` / ``add_table_name`` /
        ``create_column``) are BATCHED into one ``select`` instead of one
        ``withColumn`` each: every withColumn re-analyzes the whole plan
        (Dataset.withColumn resolves eagerly), so per-instruction
        application made driver-side analysis — not Spark execution — the
        bottleneck of multi-year builds (measured round 7: ~2.3 s/year for
        the 39-year food span). Sequential withColumn semantics are
        preserved: a later assignment that references an earlier pending
        NUMERICAL column inlines its SQL (the flush select reads the
        pre-batch snapshot, so earlier assignments never see later
        overwrites); a reference to a pending CATEGORICAL column flushes
        the batch first and recompiles against materialized columns.

        The tag survives into the returned frame (``load_table`` drops
        it)."""
        batch = _ColumnBatch()

        for step in instructions or []:
            if step is None:
                continue
            if isinstance(step, str):
                method, arg = step, None
            elif isinstance(step, Mapping) and len(step) == 1:
                method, arg = next(iter(step.items()))
            else:
                raise ValueError(f"malformed instruction: {step!r}")
            if method in self._COLUMN_METHODS:
                try:
                    assign = self._column_assignment(method, arg, table_name, df, batch)
                except _NeedsFlush:
                    df = batch.flush(df)
                    assign = self._column_assignment(method, arg, table_name, df, batch)
                if assign is not None:
                    batch.assign(*assign)
                continue
            df = batch.flush(df)
            if method == "apply_pandas_function":
                if arg is None:
                    continue
                method, arg = self._recognize_pandas(df, arg, table_name)
            handler = getattr(self, f"_op_{method}", None)
            if handler is None:
                raise ValueError(f"unknown instruction {method!r}")
            df = handler(df, arg, years, table_name)
        return batch.flush(df)

    _COLUMN_METHODS = frozenset(
        {"add_year", "add_table_name", "create_column", "create_column_by_year"}
    )

    def _column_assignment(
        self, method: str, arg, table_name, df: DataFrame, batch: _ColumnBatch
    ) -> "tuple[str, Column | str] | None":
        """One batched column assignment: (name, Column | SQL text), or
        None for a skipped (year-disabled) step. Raises :class:`_NeedsFlush`
        when the expression references a pending column it cannot inline."""
        if method == "add_year":
            # the tag IS the year (IntegerType, like a year literal)
            return "Year", F.col(PIPELINE_YEAR)
        if method == "add_table_name":
            return "Table_Name", F.lit(table_name)
        if arg is None:
            return None
        name = arg["name"]
        if method == "create_column_by_year":
            return name, self._conditional_numerical_payload(
                df, batch, name, arg["variants"]
            )
        if arg["type"] == "numerical":
            return name, self._numerical_payload(df, batch, arg["expression"])
        if arg["type"] == "categorical":
            refs = {name}
            for condition in arg["categories"].values():
                if isinstance(condition, Mapping):
                    refs.update(condition.keys())
            if batch.shadows(refs):
                raise _NeedsFlush()
            return name, self._categorical_expression(df, name, arg["categories"])
        raise ValueError(f"unknown create_column type {arg['type']!r}")

    def _numerical_payload(
        self, df: DataFrame, batch: _ColumnBatch, expression
    ) -> "Column | str":
        """A numerical expression as SQL text (so later batch members can
        inline it) or a literal Column. A reference to a pending column
        inlines that column's SQL wrapped in the same operand coalesce the
        materialized column would get — the flush ``select`` reads the
        pre-batch snapshot, so inlined SQL evaluates exactly what the
        sequential withColumn would have."""
        if isinstance(expression, (int, float)) and not isinstance(expression, bool):
            return F.lit(expression)
        # fill ONLY the operands named in the expression (reference
        # data_engine.py:362-367), leaving other columns' nulls intact
        columns = {c.lower(): c for c in df.columns}

        def repl(m: re.Match) -> str:
            word = m.group(0)
            # pending assignments shadow real columns (sequential
            # withColumn semantics: this step sees the latest value)
            payload = batch.payload(word)
            if payload is not None:
                if not isinstance(payload, str):
                    raise _NeedsFlush()
                return f"coalesce(({payload}), 0)"
            actual = columns.get(word.lower())
            if actual is None:
                return word  # literal / function name
            return f"coalesce(`{actual}`, 0)"

        return _IDENT.sub(repl, expression)

    def _numerical_sql_text(self, df, batch, expression) -> str:
        """:meth:`_numerical_payload` forced to SQL text: literal numbers
        become typed SQL literals (``30`` int / ``0.5D`` double — matching
        F.lit's IntegerType/DoubleType)."""
        if isinstance(expression, (int, float)) and not isinstance(expression, bool):
            return (
                f"{expression!r}D" if isinstance(expression, float) else str(expression)
            )
        payload = self._numerical_payload(df, batch, expression)
        assert isinstance(payload, str)
        return payload

    def _conditional_numerical_payload(
        self, df: DataFrame, batch, name: str, variants: Mapping
    ) -> str:
        """One year-conditional SQL expression merging per-year numerical
        create_column variants (``{year: spec|None}``): each distinct
        expression becomes a WHEN branch over its years; skipped years
        fall to the ELSE, which keeps the existing column value (pending
        SQL inlined, real column referenced raw, NULL when absent — the
        same value those years see alone, where the skipped step leaves
        the column untouched and the final union NULL-fills absentees)."""
        groups: dict[str, tuple[Mapping, list[int]]] = {}
        for y, v in variants.items():
            if v is not None:
                groups.setdefault(repr(v), (v, []))[1].append(y)
        whens = [
            (ys, self._numerical_sql_text(df, batch, v["expression"]))
            for v, ys in groups.values()
        ]
        pend = batch.payload(name)
        if pend is not None:
            if not isinstance(pend, str):
                raise _NeedsFlush()
            else_sql = f"({pend})"
        else:
            columns = {c.lower(): c for c in df.columns}
            actual = columns.get(name.lower())
            else_sql = f"`{actual}`" if actual is not None else "NULL"
        branches = " ".join(
            f"WHEN `{PIPELINE_YEAR}` IN ({', '.join(str(int(y)) for y in ys)}) "
            f"THEN ({sql})"
            for ys, sql in whens
        )
        return f"CASE {branches} ELSE {else_sql} END"

    def _categorical_expression(
        self, df: DataFrame, column_name: str, categories: Mapping
    ) -> Column:
        base: Column = F.col(column_name) if column_name in df.columns else F.lit(None)
        expr = base.cast("string") if column_name in df.columns else base
        for category, condition in categories.items():
            cond = self._condition(df, column_name, condition)
            # forward fold => later categories wrap earlier ones as the
            # outer `when`, reproducing pandas' sequential overwrite
            expr = F.when(cond, F.lit(str(category))).otherwise(expr)
        return expr

    def _condition(self, df: DataFrame, column_name: str, condition) -> Column:
        if condition is None:
            return F.lit(True)
        if isinstance(condition, str):
            return F.col(column_name) == F.lit(condition)
        if isinstance(condition, list):
            return F.col(column_name).isin(condition)
        if isinstance(condition, Mapping):
            cond = F.lit(True)
            for other, value in condition.items():
                if isinstance(value, list):
                    cond = cond & F.col(other).isin(value)
                elif isinstance(value, (bool, str, int, float)):
                    cond = cond & (F.col(other) == F.lit(value))
                else:
                    raise ValueError(f"bad condition value {value!r}")
            return cond
        raise ValueError(f"bad condition {condition!r}")

    # -- filters / projection -------------------------------------------
    def _op_apply_filter(self, df, arg, years, table_name):
        if arg is None:
            return df
        conditions = [arg] if isinstance(arg, str) else list(arg)
        for condition in conditions:
            df = df.filter(translate_pandas_query(condition))
        return df

    def _op_apply_filter_by_year(self, df, arg, years, table_name):
        """One year-conditional predicate merging per-year filter variants
        (``{year: conditions | None}``): a row survives iff its own year's
        conditions hold (None = unfiltered). Keeps years whose specs
        differ only in exclusion lists inside one compile group."""
        groups: dict[str, tuple[Any, list[int]]] = {}
        for y, a in arg.items():
            groups.setdefault(repr(a), (a, []))[1].append(y)
        pred: Column | None = None
        for a, ys in groups.values():
            branch = F.col(PIPELINE_YEAR).isin([int(y) for y in ys])
            if a is not None:
                # translate_pandas_query returns SQL text (df.filter
                # accepts it directly; composing needs an expr Column)
                for condition in ([a] if isinstance(a, str) else list(a)):
                    branch = branch & F.expr(translate_pandas_query(condition))
            pred = branch if pred is None else (pred | branch)
        return df if pred is None else df.filter(pred)

    def _op_apply_order(self, df, arg, years, table_name):
        if arg is None:
            return df
        exprs = []
        for entry in arg:
            if isinstance(entry, str):
                name, dtype = entry, None
            else:
                name, dtype = next(iter(entry.items()))
            col = F.col(name)
            if dtype:
                col = col.cast(_TYPE_MAP.get(dtype, dtype))
            exprs.append(col.alias(name))
        return df.select(*exprs, F.col(PIPELINE_YEAR))

    # -- declarative reshape/agg (replaces pandas eval) ------------------
    def _op_aggregate(self, df, arg, years, table_name):
        if arg is None:
            return df
        # keying on the tag keeps aggregation within years (and keeps the
        # tag out of the value columns)
        group = [*arg["groupby"], PIPELINE_YEAR]
        how = arg.get("agg", "sum")
        value_cols = arg.get("columns") or [
            c for c in df.columns
            if c not in group and df.schema[c].dataType.typeName() in
            ("long", "integer", "double", "float", "short", "byte", "decimal")
        ]
        aggs = [getattr(F, how)(c).alias(c) for c in value_cols]
        return df.groupBy(*group).agg(*aggs)

    def _op_melt(self, df, arg, years, table_name):
        if arg is None:
            return df
        return melt_op(
            df,
            id_cols=[*arg["id_columns"], PIPELINE_YEAR],
            value_cols=arg["value_columns"],
            var_name=arg.get("variable_name", "variable"),
            value_name=arg.get("value_name", "value"),
            drop_nulls=arg.get("drop_nulls", False),
        )

    # -- pandas-idiom recognizer ------------------------------------------
    # The real schema.yaml embeds seven pandas method chains
    # (apply_pandas_function steps), all of exactly two shapes: a
    # groupby-sum and a stack/melt chain. Rather than evaluate pandas code
    # (eager, driver-side, the reference's eval path data_engine.py:427-437),
    # the shapes are RECOGNIZED and compiled to the declarative aggregate /
    # melt instructions — same lazy single-plan result as the rest of the
    # DSL. Anything outside the two shapes raises: an unrecognized chain
    # must fail loudly, not silently skip.
    _GROUPBY_SUM = re.compile(
        r"^\s*\.groupby\(\s*(\[[^\]]*\])\s*(?:,[^)]*)?\)\s*"
        r"(?:\[\[([^\]]*)\]\]\s*)?\.sum\(\s*[^)]*\)\s*$",
        re.S,
    )
    _STACK_MELT = re.compile(
        r"^\s*\.drop\(\s*columns\s*=\s*(\[[^\]]*\])\s*\)\s*"
        r"\.set_index\(\s*(\[[^\]]*\])\s*\)\s*"
        r"\.stack\(\s*\)\s*\.to_frame\(\s*\)\s*\.reset_index\(\s*\)\s*"
        r"\.set_axis\(\s*(\[[^\]]*\])\s*,\s*axis\s*=\s*['\"]columns['\"]\s*\)\s*$",
        re.S,
    )

    def _recognize_pandas(self, df: DataFrame, arg, table_name: str):
        """Translate the two supported pandas chains into a declarative
        instruction: ("aggregate"|"melt", arg)."""
        import ast

        text = str(arg).strip()
        m = self._GROUPBY_SUM.match(text)
        if m:
            group = ast.literal_eval(m.group(1))
            columns = (
                ast.literal_eval(f"[{m.group(2)}]") if m.group(2) else None
            )
            return "aggregate", {"groupby": group, "columns": columns, "agg": "sum"}
        m = self._STACK_MELT.match(text)
        if m:
            dropped = ast.literal_eval(m.group(1))
            id_cols = ast.literal_eval(m.group(2))
            axis = ast.literal_eval(m.group(3))
            if axis[: len(id_cols)] != id_cols or len(axis) != len(id_cols) + 2:
                raise ValueError(
                    f"set_axis names {axis!r} do not extend the index "
                    f"{id_cols!r} with (variable, value)"
                )
            value_cols = [
                c for c in df.columns if c not in (*id_cols, *dropped, PIPELINE_YEAR)
            ]
            # pandas .stack() drops NaN cells by default -> drop_nulls
            return "melt", {
                "id_columns": id_cols,
                "value_columns": value_cols,
                "variable_name": axis[-2],
                "value_name": axis[-1],
                "drop_nulls": True,
            }
        raise ValueError(
            f"unrecognized apply_pandas_function chain for {table_name!r}: "
            f"{text[:120]!r} — supported shapes are "
            ".groupby([...])[[...]].sum() and the drop/set_index/stack/"
            "set_axis melt (schema.yaml:704,873,919,1113,1131,1149,1172)"
        )

    # -- cross-table ------------------------------------------------------
    def _require_registry(self, method: str):
        if self.registry is None:
            raise ValueError(f"{method} instruction requires a registry")
        return self.registry

    def _op_join(self, df, arg, years, table_name):
        if arg is None:
            return df
        if isinstance(arg, str):
            other_name, on = arg, ["Year", "ID"]
        else:
            other_name, on = arg["table_name"], list(arg["columns"])
        registry = self._require_registry("join")
        registry.require_available(other_name, years)
        # keying on the tag joins every year only with the same year of
        # the other table, whatever the listed columns are
        other = registry.load_tagged(other_name, years)
        return df.join(other, on=[*on, PIPELINE_YEAR], how="inner")

    def _op_add_weights(self, df, arg, years, table_name):
        registry = self._require_registry("add_weights")
        threshold = registry.weight_year_threshold
        registry.require_available(
            "household_information", [y for y in years if y > threshold]
        )
        registry.require_available("weights", [y for y in years if y <= threshold])
        adjust = bool(arg.get("adjust_for_household_size")) if isinstance(arg, Mapping) else False
        return registry.add_weights(df, list(years), adjust_for_household_size=adjust)

    def _op_add_classification(self, df, arg, years, table_name):
        registry = self._require_registry("add_classification")
        return registry.add_classification(df, years=list(years), **(arg or {}))

    def _op_add_attribute(self, df, arg, years, table_name):
        registry = self._require_registry("add_attribute")
        name = arg if isinstance(arg, str) else arg["name"]
        return registry.add_attribute(df, name)

    def _op_apply_external_function(self, df, arg, years, table_name):
        if arg is None:
            return df
        fn = self.external_functions.get(arg)
        if fn is None:
            raise KeyError(
                f"external function {arg!r} is not registered "
                f"(allowlist: {sorted(self.external_functions)})"
            )
        out = fn(df)
        if out is None:
            return df
        if PIPELINE_YEAR in out.columns:
            return out
        if "Year" in out.columns:
            # aggregating externals (number_of_members) key on Year —
            # re-derive the tag from it
            return out.withColumn(PIPELINE_YEAR, F.col("Year").cast("int"))
        # neither tag nor Year survived, so the function cannot keep years
        # apart: run it on each year's slice and re-tag the results
        slices = {
            y: df.filter(F.col(PIPELINE_YEAR) == int(y)).drop(PIPELINE_YEAR)
            for y in years
        }
        return union_tables([tag_year(fn(part), y) for y, part in slices.items()])
