"""Base parquet files and cache entries are opened once per file version:
both base loaders and the fingerprint cache reuse the frame they read
while the files are unchanged, re-read after an overwrite and return None
once a file is gone."""

import os
import shutil
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.readwriter import DataFrameReader  # noqa: E402

from hbsir_fixtures import write_fixture_parquet  # noqa: E402
from hbsir_old_spark.api import (  # noqa: E402
    HBSIREngine,
    parquet_base_loader,
    partitioned_base_loader,
)
from hbsir_old_spark.sources.cache import FingerprintCache  # noqa: E402
from hbsir_old_spark.sources.frames import path_identity  # noqa: E402

DERIVED = {"derived": {"table_list": ["t"], "cache_result": True, "instructions": []}}
SOURCES = ["flat", "partitioned", "flat+cache", "partitioned+cache"]


@pytest.fixture
def parquet_reads(monkeypatch):
    """Paths passed to ``spark.read.parquet`` while the test runs."""
    paths: list[str] = []
    original = DataFrameReader.parquet

    def counting(self, *args, **kwargs):
        paths.extend(str(a) for a in args)
        return original(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    return paths


def _write_flat(root, values):
    os.makedirs(root, exist_ok=True)
    pd.DataFrame({"Year": [1400] * len(values), "ID": list(range(1, len(values) + 1)),
                  "V": values}).to_parquet(os.path.join(root, "1400_t.parquet"))


def _write_partition(root, values, year=1400):
    """One ``Year=YYYY`` partition of table ``t``, replacing what was there."""
    part = os.path.join(root, "t", f"Year={year}")
    shutil.rmtree(part, ignore_errors=True)
    os.makedirs(part)
    pd.DataFrame({"ID": list(range(1, len(values) + 1)), "V": values}).to_parquet(
        os.path.join(part, "part-0.parquet")
    )


def _engine(spark, tmp_path, source, values):
    """An engine over table ``t`` (1400) in the ``flat`` or ``partitioned``
    layout; ``+cache`` serves it as a ``cache_result`` table (``derived``)
    instead. Returns (engine, table, rewrite)."""
    layout, _, cached = source.partition("+")
    root = str(tmp_path / layout)
    if layout == "partitioned":
        loader, write = partitioned_base_loader(spark, root), _write_partition
    else:
        loader, write = parquet_base_loader(spark, root), _write_flat
    write(root, values)

    def rewrite(vals):
        write(root, vals)

    if not cached:
        return HBSIREngine(spark, base_loader=loader, schema={}), "t", rewrite
    eng = HBSIREngine(spark, base_loader=loader, schema=DERIVED,
                      cache_dir=str(tmp_path / "cache"))
    return eng, "derived", rewrite


def _values(df):
    return sorted(r["V"] for r in df.collect())


@pytest.mark.parametrize("source", SOURCES)
def test_second_load_opens_nothing(spark, tmp_path, parquet_reads, source):
    eng, table, _ = _engine(spark, tmp_path, source, [1.0, 2.0])
    first = eng.load_table(table, [1400])
    opened = len(parquet_reads)
    assert opened >= 1
    second = eng.load_table(table, [1400])
    assert len(parquet_reads) == opened, parquet_reads[opened:]
    assert _values(first) == _values(second) == [1.0, 2.0]


def test_request_shares_base_files(spark, tmp_path, parquet_reads):
    """A request that reaches one base file through two tables
    (Total_Expenditure and the weights join both read
    household_information) opens it once, and a repeat opens nothing."""
    root = str(tmp_path / "fixtures")
    write_fixture_parquet(root)
    eng = HBSIREngine(spark, base_loader=parquet_base_loader(spark, root))
    hh = os.path.join(root, "1400_household_information.parquet")
    eng.add_weight(eng.load_table("Total_Expenditure", [1400])).collect()
    assert parquet_reads.count(hh) == 1
    opened = len(parquet_reads)
    eng.add_weight(eng.load_table("Total_Expenditure", [1400])).collect()
    assert len(parquet_reads) == opened


@pytest.mark.parametrize("source", SOURCES)
def test_overwrite_serves_new_rows(spark, tmp_path, source):
    eng, table, rewrite = _engine(spark, tmp_path, source, [1.0, 2.0])
    assert _values(eng.load_table(table, [1400])) == [1.0, 2.0]
    for values in ([5.0, 6.0, 7.0], [8.0]):
        rewrite(values)
        # a stale frame would list the replaced file (FileNotFoundException)
        # or serve the old rows, and a stale fingerprint the old cache
        # entry; the second load is served from the memo (``+cache``: the
        # entry the rebuild's put overwrote)
        for _ in range(2):
            assert _values(eng.load_table(table, [1400])) == values


def test_deleted_files_load_as_none(spark, tmp_path):
    flat_root, part_root = str(tmp_path / "flat"), str(tmp_path / "partitioned")
    _write_flat(flat_root, [1.0])
    _write_partition(part_root, [1.0])
    _write_partition(part_root, [2.0], year=1401)
    flat, part = parquet_base_loader(spark, flat_root), partitioned_base_loader(spark, part_root)
    assert _values(flat("t", 1400)) == [1.0]
    assert _values(part("t", 1400)) == [1.0]

    os.remove(os.path.join(flat_root, "1400_t.parquet"))
    shutil.rmtree(os.path.join(part_root, "t", "Year=1400"))
    assert flat("t", 1400) is None and flat.stats_fn("t", 1400) is None
    assert part("t", 1400) is None and part.stats_fn("t", 1400) is None
    # the surviving partition is served from a re-read of the table
    assert _values(part("t", 1401)) == [2.0]

    cache = FingerprintCache(str(tmp_path / "cache"))
    cache.put(spark.createDataFrame([(1, 1.0)], ["ID", "V"]), "t", 1400, "fp")
    shutil.rmtree(os.path.join(cache.root, "1400_t.parquet"))
    assert cache.get(spark, "t", 1400, "fp") is None


def test_memoized_self_join_matches_fresh_reads(spark, tmp_path):
    """add_quantile_by_variable joins Expenditures-derived values back onto
    Expenditures: with the memo both sides carry the SAME relation, which
    Spark's self-join deduplication must keep apart — rows must equal an
    engine that reads every file afresh."""
    root = str(tmp_path / "fixtures")
    write_fixture_parquet(root)

    def fresh_loader(name, year):
        path = os.path.join(root, f"{year}_{name}.parquet")
        return spark.read.parquet(path) if os.path.exists(path) else None

    def rows(engine):
        exp = engine.load_table("Expenditures", [1394, 1400])
        out = engine.add_quantile_by_variable(exp, bins=10)
        return sorted(map(repr, (tuple(r) for r in out.collect())))

    memo = HBSIREngine(spark, base_loader=parquet_base_loader(spark, root))
    fresh = HBSIREngine(spark, base_loader=fresh_loader)
    expected = rows(fresh)
    assert expected and rows(memo) == expected
    assert rows(memo) == expected  # again, now entirely from memoized frames


def test_path_identity_tracks_every_file(tmp_path):
    assert path_identity(str(tmp_path / "missing")) is None
    f = tmp_path / "a.parquet"
    f.write_bytes(b"x" * 4)
    os.utime(f, ns=(1_700_000_000_000_000_100,) * 2)
    assert path_identity(str(f)) == (("", 4, 1_700_000_000_000_000_100),)
    # same size, same second, different nanoseconds -> different identity
    os.utime(f, ns=(1_700_000_000_500_000_000,) * 2)
    assert path_identity(str(f)) == (("", 4, 1_700_000_000_500_000_000),)

    d = tmp_path / "table"
    (d / "Year=1400").mkdir(parents=True)
    (d / "Year=1400" / "part-0.parquet").write_bytes(b"abc")
    (d / "_SUCCESS").write_bytes(b"")
    ident = path_identity(str(d))
    assert [e[:2] for e in ident] == [("Year=1400/part-0.parquet", 3), ("_SUCCESS", 0)]
