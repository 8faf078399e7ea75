import os
import tempfile

import pytest

from data_engineering_capstone_project__spark.sources.io import (
    read_json,
    read_orc,
    write_json,
    write_orc,
)


def test_json_and_orc_round_trip(spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    with tempfile.TemporaryDirectory(prefix="io_fmt_") as d:
        jpath, opath = os.path.join(d, "j"), os.path.join(d, "o")
        write_json(nation, jpath)
        write_orc(nation, opath)
        back_j = read_json(spark, jpath, schema=nation.schema)
        back_o = read_orc(spark, opath)
        assert back_j.count() == nation.count()
        assert back_o.count() == nation.count()
        assert set(back_o.columns) == set(nation.columns)
        # values survive both formats
        a = sorted(tuple(r) for r in nation.collect())
        assert sorted(tuple(r) for r in back_j.select(*nation.columns).collect()) == a
        assert sorted(tuple(r) for r in back_o.select(*nation.columns).collect()) == a


def test_read_delimited_robust_quarantine(spark, tmp_path):
    """Malformed rows land in the quarantine frame, not in the output and
    not as a job failure."""
    from data_engineering_capstone_project__spark.sources.io import (
        read_delimited_robust,
    )

    p = tmp_path / "dirty.tsv"
    p.write_text(
        "id\tamount\tname\n"
        "1\t10.5\talpha\n"
        "2\tNOT_A_NUMBER\tbeta\n"   # bad double
        "3\t7.25\tgamma\n"
    )
    good, bad = read_delimited_robust(
        spark, str(p), "id int, amount double, name string"
    )
    assert {r["id"] for r in good.collect()} == {1, 3}
    assert "_corrupt_record" not in good.columns
    quarantined = bad.collect()
    assert len(quarantined) == 1
    assert "NOT_A_NUMBER" in quarantined[0]["_corrupt_record"]


def test_write_parquet_observed_counts_without_second_pass(spark, tmp_path):
    from data_engineering_capstone_project__spark.sources.io import (
        write_parquet_observed,
    )

    df = spark.range(0, 1234).withColumnRenamed("id", "k")
    out = str(tmp_path / "obs_out")
    n = write_parquet_observed(df, out)
    assert n == 1234
    assert spark.read.parquet(out).count() == 1234


def test_write_csv_roundtrip(spark, tmp_path):
    from data_engineering_capstone_project__spark.sources.io import (
        read_tsv,
        write_csv,
    )

    df = spark.createDataFrame(
        [("a", "1"), ("b", "2")], "name string, val string"
    )
    out = str(tmp_path / "csv_out")
    write_csv(df, out)
    back = read_tsv(spark, out)
    assert {(r["name"], r["val"]) for r in back.collect()} == {("a", "1"), ("b", "2")}


def test_read_parquet_evolving_schema_merge(spark, tmp_path):
    """Two batches with different columns union with NULL fill."""
    from data_engineering_capstone_project__spark.sources.io import (
        read_parquet_evolving,
    )

    out = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, old_col string").write.parquet(
        out + "/batch=1"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, old_col string, new_col double"
    ).write.parquet(out + "/batch=2")
    df = read_parquet_evolving(spark, out)
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["new_col"] is None
    assert rows[2]["new_col"] == 9.5
    assert set(df.columns) >= {"id", "old_col", "new_col"}


def test_versioned_sink_commit_and_time_travel(spark, tmp_path):
    """Each write commits a new snapshot; readers resolve the pointer;
    pinned reads time-travel; an uncommitted (orphan) snapshot directory
    is invisible to readers."""
    import os

    from data_engineering_capstone_project__spark.sources.commitlog import (
        all_versions,
    )
    from data_engineering_capstone_project__spark.sources.io import (
        read_versioned,
        write_versioned,
    )

    path = str(tmp_path / "vtab")
    df1 = spark.range(0, 10).withColumnRenamed("id", "k")
    df2 = spark.range(0, 25).withColumnRenamed("id", "k")
    v1 = write_versioned(df1, path)
    v2 = write_versioned(df2, path)
    assert (v1, v2) == (1, 2)
    assert read_versioned(spark, path).count() == 25          # latest
    assert read_versioned(spark, path, version=1).count() == 10  # pinned
    # orphan snapshot: claimed directory + data but NO pointer swap
    os.mkdir(os.path.join(path, "v=3"))
    df1.write.mode("overwrite").parquet(os.path.join(path, "v=3"))
    assert read_versioned(spark, path).count() == 25  # still v2
    assert all_versions(path) == [1, 2, 3]
    # next writer skips the claimed version number
    v4 = write_versioned(df1, path)
    assert v4 == 4 and read_versioned(spark, path).count() == 10


def test_versioned_compaction_and_retention(spark, tmp_path):
    """compact_versioned collapses the small-file debris of repeated
    commits into a fresh snapshot; expire_versions drops old snapshots
    but never the pointer target or newer in-flight claims."""
    import os

    from data_engineering_capstone_project__spark.sources.commitlog import (
        all_versions,
        expire_versions,
    )
    from data_engineering_capstone_project__spark.sources.io import (
        compact_versioned,
        read_versioned,
        write_versioned,
    )

    path = str(tmp_path / "ctab")
    df = spark.range(0, 100).withColumnRenamed("id", "k")
    write_versioned(df.repartition(8), path)
    write_versioned(df.repartition(8), path)

    def data_files(v):
        d = os.path.join(path, f"v={v}")
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    assert len(data_files(2)) == 8
    v3 = compact_versioned(spark, path, n_files=1)
    assert v3 == 3
    assert len(data_files(3)) == 1  # file count drops
    assert read_versioned(spark, path).count() == 100  # same data, new pointer
    # old versions stay readable until expired (time travel intact)
    assert read_versioned(spark, path, version=1).count() == 100

    # in-flight claim newer than the pointer must survive retention
    os.mkdir(os.path.join(path, "v=9"))
    removed = expire_versions(path, keep=1)
    assert removed == [1, 2]
    assert all_versions(path) == [3, 9]
    assert read_versioned(spark, path).count() == 100
    with pytest.raises(Exception):
        read_versioned(spark, path, version=1)
