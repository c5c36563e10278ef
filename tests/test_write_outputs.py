"""write_outputs: concurrent plain-format writes keep the bytes and
ZIP member order of one-at-a-time writes, surface each format's own
error, inherit the caller's job group, and still commit ``versioned``."""

from __future__ import annotations

import os
import zipfile

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from small_etl_spark.sinks.files import write_outputs, zip_output_dir

FORMATS = ["csv", "tsv", "json"]


@pytest.fixture()
def df(spark):
    return spark.createDataFrame(
        [
            (1, "plain", [1, 2]),
            (2, "tab\there", None),
            (3, None, [3]),
            (4, "line\nbreak, comma", []),
        ],
        "id int, note string, tags array<int>",
    )


def _zip_members(path: str) -> list[tuple[str, bytes]]:
    with zipfile.ZipFile(path) as zf:
        return [(name, zf.read(name)) for name in zf.namelist()]


def test_concurrent_formats_match_one_at_a_time(df, tmp_path):
    together = str(tmp_path / "together")
    written = write_outputs(df, together, FORMATS)
    assert list(written) == FORMATS
    zip_together = zip_output_dir(together, written, "b.zip")

    alone = str(tmp_path / "alone")
    written_alone: dict[str, str] = {}
    for fmt in FORMATS:
        written_alone.update(write_outputs(df, alone, [fmt]))
    zip_alone = zip_output_dir(alone, written_alone, "b.zip")

    members = _zip_members(zip_together)
    assert [name for name, _ in members] == [f"output.{f}" for f in FORMATS]
    assert members == _zip_members(zip_alone)


def test_failing_format_raises_its_own_error(df, tmp_path, monkeypatch):
    def broken_json(self, path, *args, **kwargs):
        raise RuntimeError("json writer unavailable")

    monkeypatch.setattr(DataFrameWriter, "json", broken_json)
    out = tmp_path / "out"
    with pytest.raises(RuntimeError, match="json writer unavailable"):
        write_outputs(df, str(out), FORMATS)
    # the other formats ran to completion before the error surfaced
    assert (out / "csv" / "_SUCCESS").exists()
    assert (out / "tsv" / "_SUCCESS").exists()


def test_invalid_format_is_rejected_before_writing(df, tmp_path):
    with pytest.raises(ValueError, match="invalid output format 'xml'"):
        write_outputs(df, str(tmp_path), ["csv", "xml"])
    assert not os.path.exists(tmp_path / "csv")


def test_writes_run_in_the_callers_job_group(spark, df, tmp_path):
    sc = spark.sparkContext
    sc.setJobGroup("write-outputs-group", "concurrent format writes")
    try:
        write_outputs(df, str(tmp_path), FORMATS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("write-outputs-group")
    assert len(jobs) >= len(FORMATS)


def test_versioned_mixed_with_file_formats_commits(spark, df, tmp_path):
    from small_etl_spark.sinks.versioned import latest_version, read_snapshot

    formats = ["csv", "versioned", "json"]
    written = write_outputs(df, str(tmp_path), formats)
    assert list(written) == formats
    assert latest_version(written["versioned"]) is not None
    got = sorted(r.id for r in read_snapshot(spark, written["versioned"]).collect())
    assert got == [1, 2, 3, 4]
    assert (tmp_path / "csv" / "_SUCCESS").exists()
    assert (tmp_path / "json" / "_SUCCESS").exists()
