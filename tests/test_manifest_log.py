"""The manifest table's on-disk log (manifest_log.py) has one owner:
no other module spells its format, the Delta snapshot export records
exactly the version it exported, and the stream sources validate their
rate-limit option and report an expired start version plainly."""

from __future__ import annotations

import pathlib

import pytest

from pucminas_data_pipelines_spark.operators.deltalog import DeltaLogReader
from pucminas_data_pipelines_spark.operators.upsert import (
    ManifestVersionedTable,
)
from pucminas_data_pipelines_spark.sources.manifest_cdf import (
    ManifestCDFStreamReader,
)
from pucminas_data_pipelines_spark.sources.manifest_stream import (
    ManifestStreamReader,
)

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "pucminas_data_pipelines_spark"
# the synthetic source publishes staged files with its own rename
ALLOWED = {"manifest_log.py", "sources/synthetic.py"}


def test_only_the_log_module_knows_the_format():
    offenders = []
    for p in sorted(PACKAGE.rglob("*.py")):
        rel = p.relative_to(PACKAGE).as_posix()
        if rel in ALLOWED:
            continue
        text = p.read_text()
        for needle in ("_manifests", '"_LATEST"', "os.replace("):
            if needle in text:
                offenders.append(f"{rel}: {needle}")
    assert offenders == []


def _rows(spark, data):
    return spark.createDataFrame(data, "k bigint, name string")


def _sorted(df):
    return sorted(map(tuple, df.collect()))


def test_snapshot_export_does_not_lose_a_concurrent_commit(spark, tmp_path):
    """A commit landing while export_delta_log runs must not be marked
    exported: the next tail export has to carry its adds."""
    path = str(tmp_path / "t")
    t = ManifestVersionedTable(spark, path, key="k", n_buckets=2)
    t.overwrite(_rows(spark, [(1, "a"), (2, "b")]))
    other = ManifestVersionedTable(spark, path, key="k", n_buckets=2)
    real = t._delta_metadata_action

    def racing(m):
        if other.latest_version() == 0:
            other.append(_rows(spark, [(3, "c")]))
        return real(m)

    t._delta_metadata_action = racing
    t.export_delta_log()
    t.export_delta_log_tail()
    got = DeltaLogReader(spark, path).read()
    assert _sorted(got) == _sorted(t.read()) == [(1, "a"), (2, "b"), (3, "c")]


@pytest.fixture(scope="module")
def table_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("log") / "t")
    t = ManifestVersionedTable(spark, path, key="k", n_buckets=2)
    t.overwrite(_rows(spark, [(1, "a"), (2, "b")]))
    return path


@pytest.mark.parametrize("reader", [ManifestStreamReader, ManifestCDFStreamReader])
@pytest.mark.parametrize("bad", ["-1", "abc", "1.5", -2])
def test_max_versions_per_trigger_is_validated(table_path, reader, bad):
    with pytest.raises(ValueError, match="maxVersionsPerTrigger"):
        reader({"path": table_path, "maxVersionsPerTrigger": bad})
    assert reader({"path": table_path, "maxVersionsPerTrigger": "2"}).max_versions == 2


@pytest.mark.parametrize("reader", [ManifestStreamReader, ManifestCDFStreamReader])
def test_expired_start_version_names_the_fix(spark, tmp_path, reader):
    """A stream paused at a version that vacuum() then expired fails
    with the table's 'does not exist' error and the way out, not a raw
    FileNotFoundError on a manifest path."""
    path = str(tmp_path / "t")
    t = ManifestVersionedTable(spark, path, key="k", n_buckets=2)
    t.overwrite(_rows(spark, [(1, "a")]))
    r = reader({"path": path})
    start = {"version": 0}
    r.commit(start)
    for i in range(2, 5):
        t.append(_rows(spark, [(i, "x")]))
    t.vacuum(retain_last=1)
    with pytest.raises(ValueError, match="does not exist.*fresh checkpoint"):
        r.partitions(start, r.latestOffset())
