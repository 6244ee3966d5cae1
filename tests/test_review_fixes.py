"""Regression tests for the round-1 code-review findings — each test pins a
bug that execution or analysis confirmed."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hbsir_fixtures import write_fixture_parquet  # noqa: E402
from hbsir_old_spark.api import HBSIREngine, parquet_base_loader  # noqa: E402
from hbsir_old_spark.functions.dedup import minhash_lsh_pairs, simhash  # noqa: E402
from hbsir_old_spark.operators.classification import (  # noqa: E402
    add_classification,
    build_classification_dim,
)
from hbsir_old_spark.operators.scale import salted_join  # noqa: E402
from hbsir_old_spark.sources.acquire import extract_archive  # noqa: E402


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("fixtures_rf"))
    write_fixture_parquet(root)
    return HBSIREngine(spark, base_loader=parquet_base_loader(spark, root))


def test_outlays_build_for_pre_1380_years(engine):
    # pre-1380 the table_list is food-only (no Secondhand_Sale column);
    # the year-versioned expression must not reference it
    df = engine.load_table("Total_Outlay", [1375])
    rows = df.collect()
    assert len(rows) > 0
    multi = engine.load_table("Total_Outlay", [1375, 1400])
    assert multi.select("Year").distinct().count() == 2


def test_join_strategy_year_agnostic_dim_matches_expression(spark, sf_dir):
    # year=null dim rows apply to every year — both strategies must agree
    items = {
        f"b{i}": {"code": {"start": i * 100, "end": i * 100 + 100}, "level": 1}
        for i in range(21)
    }
    dim = build_classification_dim({"items": items}, years=None)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn("Year", F.lit(1400))
    via_expr = add_classification(
        li, dim, code_col="l_partkey", levels=(1,), strategy="expression"
    )
    via_join = add_classification(
        li, dim, code_col="l_partkey", levels=(1,), strategy="join"
    )
    e = via_expr.groupBy("item_key").count().orderBy("item_key").collect()
    j = via_join.groupBy("item_key").count().orderBy("item_key").collect()
    assert [tuple(r) for r in e] == [tuple(r) for r in j]
    assert any(r["item_key"] is not None for r in j)


def test_simhash_64_bit(spark):
    df = spark.createDataFrame([("hello world foo bar",)], schema="text string")
    value = df.select(simhash("text", bits=64).alias("h")).collect()[0]["h"]
    assert isinstance(value, int)


def test_minhash_band_divisibility_validated(spark):
    df = spark.createDataFrame([(1, "a b c")], schema="doc_id long, text string")
    with pytest.raises(ValueError, match="evenly divide"):
        minhash_lsh_pairs(df, num_perm=16, bands=5)


def test_salted_join_rejects_right_outer(spark):
    df = spark.createDataFrame([(1, 2)], schema="k int, v int")
    with pytest.raises(ValueError, match="salt replica"):
        salted_join(df, df, "k", how="right")


def test_nested_archive_extraction_no_duplicates(tmp_path):
    import zipfile

    inner = tmp_path / "inner.zip"
    with zipfile.ZipFile(inner, "w") as zf:
        zf.writestr("data.csv", "x\n1\n")
    outer = tmp_path / "outer.zip"
    with zipfile.ZipFile(outer, "w") as zf:
        zf.write(inner, "inner.zip")
    out = extract_archive(str(outer), str(tmp_path / "o"))
    csvs = [p for p in out if p.endswith("data.csv")]
    assert len(csvs) == 1, f"duplicate extraction: {csvs}"


def test_replace_map_is_simultaneous(spark):
    # pandas Series.replace semantics: {1: 2, 2: 3} maps 1 -> 2, never 1 -> 3
    from hbsir_old_spark.sources.cleaner import clean_table

    raw = spark.createDataFrame([("1",), ("2",), ("3",)], schema="v string")
    meta = {"columns": {"v": {"new_name": "V", "type": "unsigned",
                              "replace": {"1": "2", "2": "3"}}}}
    got = sorted(r["V"] for r in clean_table(raw, meta, 1400).collect())
    assert got == [2, 3, 3]


def test_equivalence_scale_reference_fields(engine):
    es = engine.load_table("Equivalence_Scale", [1400])
    assert {"Household", "Per_Capita", "OECD", "OECD_Modified", "Square_Root"} <= set(es.columns)
    rows = es.collect()
    assert all(r["Household"] == 1.0 for r in rows)
    assert all(r["Per_Capita"] >= 1.0 for r in rows)


def test_season_reference_formula(spark):
    from hbsir_old_spark.functions.standard import add_season

    df = spark.createDataFrame([(m,) for m in range(1, 13)], schema="Month int")
    seasons = {r["Month"]: r["Season"] for r in add_season(df).collect()}
    # reference Month//3+1: months 1-2 Spring, 3-5 Summer, ..., 12 -> null
    assert seasons[1] == "Spring" and seasons[2] == "Spring"
    assert seasons[3] == "Summer" and seasons[5] == "Summer"
    assert seasons[12] is None  # inherited reference quirk, documented


def test_filter_translation_shields_string_literals():
    from hbsir_old_spark.plans.filters import translate_pandas_query

    assert translate_pandas_query("Brand == 'A&B'") == "Brand = 'A&B'"
    assert (
        translate_pandas_query('Name == "x|y" & Code > 1')
        == 'Name = "x|y" AND Code > 1'
    )


def test_float_constant_expression(spark):
    from hbsir_old_spark.plans.pipeline import PipelineCompiler

    df = spark.createDataFrame([(1,)], schema="a int")
    out = PipelineCompiler().apply(
        df,
        [{"create_column": {"name": "x", "type": "numerical", "expression": 2.5}}],
        year=1400,
        table_name="t",
    )
    assert out.collect()[0]["x"] == 2.5


def test_cache_invalidated_when_base_parquet_changes(spark, tmp_path):
    """Overwriting a base parquet must invalidate every cached table built
    on it — also when the base table has its own schema entry (every
    corpus original table does, for its add_year step)."""
    import time as _time

    import pandas as pd

    for case, base_spec in (("plain", None), ("steps", {"instructions": ["add_year"]})):
        root = str(tmp_path / case / "base")
        os.makedirs(root)
        pd.DataFrame({"Year": [1400], "ID": [1], "V": [10.0]}).to_parquet(
            f"{root}/1400_t.parquet"
        )
        schema = {
            "derived": {"table_list": ["t"], "cache_result": True, "instructions": []}
        }
        if base_spec is not None:
            schema["t"] = base_spec
        eng = HBSIREngine(
            spark,
            base_loader=parquet_base_loader(spark, root),
            schema=schema,
            cache_dir=str(tmp_path / case / "cache"),
        )
        assert eng.load_table("derived", [1400]).collect()[0]["V"] == 10.0, case
        # overwrite the base data: the fingerprint must change -> rebuild
        _time.sleep(1.1)  # ensure mtime tick
        pd.DataFrame({"Year": [1400], "ID": [1], "V": [99.0]}).to_parquet(
            f"{root}/1400_t.parquet"
        )
        assert eng.load_table("derived", [1400]).collect()[0]["V"] == 99.0, case


def test_cache_invalidated_by_same_size_overwrite_within_one_second(spark, tmp_path):
    """A same-size overwrite whose mtime falls in the same second must still
    change the fingerprint: base-file identities use nanosecond mtimes."""
    import pandas as pd

    root = str(tmp_path / "base")
    os.makedirs(root)
    path = f"{root}/1400_t.parquet"
    second_ns = 1_700_000_000 * 10**9
    pd.DataFrame({"Year": [1400], "ID": [1], "V": [10.0]}).to_parquet(path)
    size = os.path.getsize(path)
    os.utime(path, ns=(second_ns + 100, second_ns + 100))
    eng = HBSIREngine(
        spark,
        base_loader=parquet_base_loader(spark, root),
        schema={"derived": {"table_list": ["t"], "cache_result": True, "instructions": []}},
        cache_dir=str(tmp_path / "cache"),
    )
    assert eng.load_table("derived", [1400]).collect()[0]["V"] == 10.0
    pd.DataFrame({"Year": [1400], "ID": [1], "V": [99.0]}).to_parquet(path)
    assert os.path.getsize(path) == size  # same size: only the mtime differs
    os.utime(path, ns=(second_ns + 500_000_000, second_ns + 500_000_000))
    assert eng.load_table("derived", [1400]).collect()[0]["V"] == 99.0


def test_weights_join_has_no_forced_broadcast(engine):
    te = engine.load_table("Total_Expenditure", [1400])
    plan = engine.add_weight(te)._jdf.queryExecution().logical().toString()
    assert "broadcast" not in plan.lower()


class TestRound5ReviewFixes:
    def test_mixed_mapped_unmapped_boundaries_decode_as_strings(self, spark):
        """A mapping that starts later than the first boundary must not mix
        bigint and string branches in one when-chain (Spark would force
        BIGINT and crash casting a label); unmapped years stringify the raw
        code, matching pandas object-dtype semantics."""
        from hbsir_old_spark.operators.attributes import attribute_column

        df = spark.createDataFrame(
            [(1370, 112345678), (1400, 21234567890)], ["Year", "ID"]
        )
        col = attribute_column(
            "ID",
            "Year",
            {
                1363: (9, 0, 1, None),
                1387: (11, 0, 1, {1: "Urban", 2: "Rurale"}),
            },
        )
        rows = {r["Year"]: r["out"] for r in df.select("Year", col.alias("out")).collect()}
        assert rows[1370] == "1"  # raw code, stringified
        assert rows[1400] == "Rurale"

    def test_all_unmapped_boundaries_stay_bigint(self, spark):
        from hbsir_old_spark.operators.attributes import attribute_column

        df = spark.createDataFrame([(1400, 21234567890)], ["Year", "ID"])
        col = attribute_column("ID", "Year", {1363: (11, 0, 1)})
        out = df.select(col.alias("out"))
        assert dict(out.dtypes)["out"] == "bigint"
        assert out.collect()[0]["out"] == 2

    def test_double_aspect_dim_mixing_int_and_float(self, spark):
        """aspect_type 'double' (mixed int/float values) must coerce ints to
        float for createDataFrame's DoubleType verifier."""
        from hbsir_old_spark.operators.classification import ClassificationDim

        dim = ClassificationDim(
            rows=[
                {"year": 1400, "level": 1, "code_start": 0, "code_end": 10,
                 "duration": 2},
                {"year": 1400, "level": 1, "code_start": 10, "code_end": 20,
                 "duration": 2.5},
            ],
            aspects=("duration",),
        )
        sdf = dim.to_spark(spark)
        assert dict(sdf.dtypes)["duration"] == "double"
        assert sorted(r["duration"] for r in sdf.collect()) == [2.0, 2.5]

    def test_shared_default_corpus_is_not_poisoned_by_registry_builds(self, spark):
        """build_reference_registry shares one parsed corpus; building a
        registry (and resolving classifications through it) must leave the
        shared corpus untouched for the next build."""
        from hbsir_old_spark.metadata.corpus import (
            _shared_default_corpus,
            build_reference_registry,
        )
        import copy

        before = copy.deepcopy(_shared_default_corpus().household["ID_Length"])
        r1 = build_reference_registry(spark)
        df = spark.createDataFrame([(1400, 21234567890)], ["Year", "ID"])
        r1.add_attribute(df, "Urban_Rural").collect()
        assert _shared_default_corpus().household["ID_Length"] == before
        r2 = build_reference_registry(spark)
        out = r2.add_attribute(df, "Urban_Rural").collect()
        assert out[0]["Urban_Rural"] == "Rural"


class TestRound8AdviceFixes:
    def test_sql_string_literal_quote_and_backslash(self, spark):
        """CASE-branch string payloads must round-trip apostrophes and
        backslashes in the default parser mode."""
        from hbsir_old_spark.operators.classification import _sql_literal

        for payload in ("it's", "a\\b", "x''y\\\\z", "plain"):
            got = spark.sql(f"SELECT {_sql_literal(payload)} AS v").collect()[0]["v"]
            assert got == payload, (payload, got)

    def test_escaped_literals_mode_routes_through_column_fold(self, spark):
        """Under legacy spark.sql.parser.escapedStringLiterals=true the
        SQL lexer retains doubled quotes literally and still consumes \\'
        as an escape pair, so NO text rendering round-trips those
        characters (empirically verified on Spark 4.1.2). _sql_literal
        must refuse rather than corrupt, and _expression_lookup must fall
        back to the parser-free F.when fold with identical semantics."""
        from hbsir_old_spark.operators.classification import (
            _expression_lookup,
            _sql_literal,
        )

        conf_key = "spark.sql.parser.escapedStringLiterals"
        old = spark.conf.get(conf_key, "false")
        spark.conf.set(conf_key, "true")
        try:
            with pytest.raises(ValueError, match="escapedStringLiterals"):
                _sql_literal("it's")
            assert _sql_literal("plain") == "'plain'"
            rows = [
                {"code_start": 0, "code_end": 10, "year": None, "lab": "it's"},
                {"code_start": 10, "code_end": 20, "year": None, "lab": "a\\b"},
            ]
            col = _expression_lookup(rows, "Code", None, "lab")
            df = spark.createDataFrame([(5,), (15,), (25,)], "Code long")
            got = {r["Code"]: r["lab"] for r in df.select("Code", col.alias("lab")).collect()}
            assert got == {5: "it's", 15: "a\\b", 25: None}
        finally:
            spark.conf.set(conf_key, old)
        # and the fold agrees with the SQL-text chain in default mode
        col_sql = _expression_lookup(rows, "Code", None, "lab")
        df = spark.createDataFrame([(5,), (15,), (25,)], "Code long")
        got = {r["Code"]: r["lab"] for r in df.select("Code", col_sql.alias("lab")).collect()}
        assert got == {5: "it's", 15: "a\\b", 25: None}

    def test_sql_number_rejects_non_numeric_bounds(self):
        from hbsir_old_spark.operators.classification import _sql_number

        with pytest.raises(TypeError):
            _sql_number("110")
        with pytest.raises(TypeError):
            _sql_number(True)

    def test_weighted_quality_rejects_non_finite_weights(self, spark):
        """A non-finite trained weight used to render as 'infD'/'nanD' and
        die inside the SQL parser far from the bad input — it must raise
        at the API boundary instead."""
        from hbsir_old_spark.functions.text import hashed_quality_score_weighted

        df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
        weights = [0.0] * (16**2)
        weights[7] = float("inf")
        with pytest.raises(ValueError, match="finite"):
            hashed_quality_score_weighted(df, weights, hex_chars=2)

    def test_scrub_cache_keyed_on_spark_context(self):
        """The memoized scrub Columns must not outlive the JVM gateway:
        the cache key carries the active SparkContext's identity, so a
        restarted context rebuilds instead of returning py4j refs into a
        dead gateway."""
        import inspect

        from hbsir_old_spark.sources import cleaner

        # the cache key includes a context-identity slot ...
        params = list(inspect.signature(cleaner._scrub_named).parameters)
        assert params[0] == "ctx_key"
        # ... and scrub_string passes the ACTIVE context's token, so two
        # different contexts can never share a cache line
        src = inspect.getsource(cleaner.scrub_string)
        assert "active_context_token" in src

    def test_object_token_never_recycles(self):
        """id() can be reissued to a new object at the same address after
        GC — object_token must hand out fresh tokens instead."""
        from hbsir_old_spark.sources.cache import object_token

        class Ctx:
            pass

        a = Ctx()
        tok_a = object_token(a)
        assert object_token(a) == tok_a  # stable while alive
        del a
        seen = {tok_a}
        for _ in range(50):  # new objects often reuse the freed address
            b = Ctx()
            tok_b = object_token(b)
            assert tok_b not in seen
            seen.add(tok_b)
            del b
        assert object_token(None) is None
