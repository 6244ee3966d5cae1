"""Unit tests for the driver-side metadata kernel (ranges + versioning).

Coverage modeled on the reference's test strategy (SURVEY.md §5):
range-set parsing/membership/union/equality, simple & keyword version
resolution, null-version deletion, category flattening, year parsing.
"""

import pytest
from hypothesis import given, strategies as st

from hbsir_old_spark.metadata.ranges import CodeRangeSet, parse_years
from hbsir_old_spark.metadata.versioning import (
    categorize_items,
    is_versioned,
    resolve_versioned,
)


class TestCodeRangeSet:
    def test_int_and_list(self):
        crs = CodeRangeSet([1, 2, 3, 4, {"start": 6, "end": 10}])
        assert 2 in crs and 4 in crs and 6 in crs and 9 in crs
        assert 5 not in crs and 10 not in crs and 0 not in crs
        assert crs.contains_all([4, 5, 6]) == [True, False, True]

    def test_single_int(self):
        crs = CodeRangeSet(11111)
        assert 11111 in crs and 11110 not in crs
        assert crs == 11111

    def test_stepped_range(self):
        crs = CodeRangeSet({"start": 0, "end": 10, "step": 3})
        assert list(crs) == [0, 3, 6, 9]
        assert 1 not in crs

    def test_nested_dict_values(self):
        crs = CodeRangeSet({"a": 1, "b": {"start": 100, "end": 102}})
        assert set(crs) == {1, 100, 101}

    def test_keywords_pick_single_key(self):
        crs = CodeRangeSet({"code": 5, "noise": 99}, keywords=("code",))
        assert 5 in crs and 99 not in crs

    def test_defaults(self):
        crs = CodeRangeSet({"end": 5}, default_start=1)
        assert list(crs) == [1, 2, 3, 4]
        with pytest.raises(ValueError):
            CodeRangeSet({"start": 5})

    def test_bounds_filter(self):
        crs = CodeRangeSet([10, 5000], bounds=(1, 100))
        assert 10 in crs and 5000 not in crs

    def test_union_and_equality(self):
        a = CodeRangeSet([1, 2, 3])
        b = CodeRangeSet({"start": 3, "end": 6})
        u = a | b
        assert set(u) == {1, 2, 3, 4, 5}
        assert u == CodeRangeSet({"start": 1, "end": 6})
        assert u == range(1, 6)

    def test_intervals_merge(self):
        crs = CodeRangeSet([1, 2, {"start": 3, "end": 7}, {"start": 10, "end": 12}])
        assert crs.intervals() == [(1, 7), (10, 12)]

    def test_empty(self):
        crs = CodeRangeSet(None)
        assert 0 not in crs and not crs
        assert crs.intervals() == []

    def test_none_in_list_ignored(self):
        assert set(CodeRangeSet([None, 7])) == {7}

    @given(st.lists(st.integers(min_value=0, max_value=300), max_size=30),
           st.integers(min_value=0, max_value=300))
    def test_property_membership_matches_python_set(self, values, probe):
        crs = CodeRangeSet(values)
        assert (probe in crs) == (probe in set(values))

    @given(st.integers(0, 50), st.integers(0, 50), st.integers(0, 60))
    def test_property_interval_membership(self, start, width, probe):
        crs = CodeRangeSet({"start": start, "end": start + width})
        assert (probe in crs) == (start <= probe < start + width)


class TestVersionResolver:
    simple = {1363: {"key": 1363}, 1383: {"key": 1383}}
    keyword = {
        "shared_key": "shared_value",
        "overwritten_key": "old_value",
        "versions": {
            1363: {"key": 1363},
            1383: {"key": 1383, "overwritten_key": "new_value"},
        },
    }

    def test_not_versioned_passthrough(self):
        plain = {"key": 1380, "other": "v"}
        assert resolve_versioned(plain, 1400) == plain
        assert not is_versioned(plain)

    def test_simple_versioning(self):
        assert resolve_versioned(self.simple, 1362) is None
        for year in range(1363, 1383):
            assert resolve_versioned(self.simple, year) == {"key": 1363}
        assert resolve_versioned(self.simple, 1390) == {"key": 1383}
        assert is_versioned(self.simple)

    def test_keyword_versioning_inherits_and_overrides(self):
        assert resolve_versioned(self.keyword, 1350) == {
            "shared_key": "shared_value",
            "overwritten_key": "old_value",
        }
        assert resolve_versioned(self.keyword, 1370) == {
            "shared_key": "shared_value",
            "overwritten_key": "old_value",
            "key": 1363,
        }
        assert resolve_versioned(self.keyword, 1401) == {
            "shared_key": "shared_value",
            "overwritten_key": "new_value",
            "key": 1383,
        }

    def test_null_version_means_absent(self):
        meta = {"steps": [{"add_weights": {1363: "x", 1369: None}}]}
        assert resolve_versioned(meta, 1365) == {"steps": [{"add_weights": "x"}]}
        assert resolve_versioned(meta, 1380) == {"steps": [{"add_weights": None}]}

    def test_recursion_through_lists(self):
        meta = [{"a": {1363: 1}}, "plain", 7]
        assert resolve_versioned(meta, 1400) == [{"a": 1}, "plain", 7]

    def test_non_year_int_keys_are_plain(self):
        meta = {1: "a", 2: "b"}  # outside year_range -> plain dict
        assert resolve_versioned(meta, 1400) == meta

    def test_input_not_mutated(self):
        import copy
        snapshot = copy.deepcopy(self.keyword)
        resolve_versioned(self.keyword, 1390)
        assert self.keyword == snapshot


class TestCategorizeItems:
    def test_flattening(self):
        meta = {
            "default_levels": [1],
            "items": {
                "_food_": {
                    "level": 1,
                    "code": {"start": 11000, "end": 20000},
                    "categories": {
                        2: {"name": "second"},
                        1: {"name": "first", "level": 2},
                    },
                },
                "other": {"level": 1, "code": 5},
            },
        }
        out = categorize_items(meta, 1400)
        items = out["items"]
        assert [i["item_key"] for i in items] == ["food", "food", "other"]
        # categories sorted by number; shared keys inherited, not overwritten
        assert items[0]["name"] == "first" and items[0]["level"] == 2
        assert items[1]["name"] == "second" and items[1]["level"] == 1
        assert items[2] == {"level": 1, "code": 5, "item_key": "other"}

    def test_versioned_items(self):
        meta = {"items": {"a": {1363: {"code": 1}, 1390: {"code": 2}}}}
        assert categorize_items(meta, 1365)["items"][0]["code"] == 1
        assert categorize_items(meta, 1395)["items"][0]["code"] == 2


class TestSettingsCascade:
    def test_layered_merge_and_dotted_access(self):
        from hbsir_old_spark.metadata.settings import Settings

        s = Settings.with_defaults(
            {"years": {"last": 1399}, "custom": {"x": 1}},
            {"custom": {"y": 2}},
        )
        assert s["years.first"] == 1363  # package default survives
        assert s["years.last"] == 1399  # project override wins
        assert s["custom.x"] == 1 and s["custom.y"] == 2  # layers merge
        assert s.get("nope.deep", "fallback") == "fallback"
        import pytest as _pytest

        with _pytest.raises(KeyError):
            _ = s["years.middle"]

    def test_engine_reads_settings(self, spark, monkeypatch):
        from hbsir_old_spark.api import HBSIREngine

        eng = HBSIREngine(
            spark, base_loader=lambda n, y: None, settings={"years": {"last": 1390}}
        )
        assert eng.parse_years(None)[-1] == 1390
        assert eng.registry.weight_year_threshold == 1395

        # the weights switch year reaches both constructors' registries and
        # the scratch registry of an ad-hoc schema build
        from hbsir_old_spark.plans.registry import TableRegistry

        settings = {"weights": {"household_info_from_year": 1390}}
        seen = []

        def spy(registry, df, years, adjust_for_household_size=False):
            seen.append(registry.weight_year_threshold)
            return df

        base = spark.createDataFrame([(1, 2.0)], "ID long, V double")
        monkeypatch.setattr(TableRegistry, "add_weights", spy)
        for eng in (
            HBSIREngine(spark, base_loader=lambda n, y: None, settings=settings),
            HBSIREngine.with_reference_corpus(spark, settings=settings),
        ):
            assert eng.registry.weight_year_threshold == 1389
            eng.registry.base_loader = lambda n, y: base if n == "t" else None
            eng.create_table_with_schema(
                {"t": {"instructions": ["add_year", "add_weights"]}}, years=[1389]
            )
        assert seen == [1389, 1389]


class TestParseYears:
    def test_forms(self):
        assert parse_years(1400) == [1400]
        assert parse_years(86) == [1386]
        assert parse_years(55) == [1455]
        assert parse_years("86-88,99") == [1386, 1387, 1388, 1399]
        assert parse_years([1390, 77]) == [1377, 1390]
        assert parse_years(range(1398, 1401)) == [1398, 1399, 1400]
        assert parse_years("last", available=[1390, 1395]) == [1395]
        assert parse_years("all", available=[3, 1, 2]) == [1, 2, 3]

    def test_all_default_span(self):
        years = parse_years(None)
        assert years[0] == 1363 and years[-1] == 1401
