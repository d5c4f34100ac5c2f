"""CHANGE DATA FEED streaming source over a ManifestVersionedTable —
the Delta ``readChangeFeed`` analogue (the reference's Delta layer at
sparkcode/titanic_example_delta.py:25-72 is the batch side of this
table format): ``spark.readStream.format("manifest_cdf")`` tails the
commit log and emits ROW-LEVEL CHANGES per commit, not snapshots:

- offsets are commit versions; each micro-batch covers the commits in
  (start, end] and emits the table's columns plus ``_change_type`` in
  {insert, delete, update_preimage, update_postimage} and
  ``_commit_version`` — the same row contract as the batch
  ``version_diff`` (operators/upsert.py), which is this source's
  differential twin;
- planning is O(manifest diff): an APPEND commit becomes one
  insert-partition per added directory (no pre-image read at all); a
  MERGE/DELETE rewrite becomes one diff-partition per CHANGED bucket
  (pre and post file lists of just that bucket); a merge-on-read
  DELETE becomes one partition per new DV sidecar, whose deleted rows
  are fetched by (file, row_index) ``take`` — never a table scan;
- executors do the reading (pyarrow datasets → Arrow batches; the
  bucket diff is a key-level outer merge of two bucket-sized pandas
  frames — bounded by bucket size, the same unit merge itself
  rewrites);
- reads are pinned to the MANIFEST's schema (never file footers), so
  files written before a pre-stream schema evolution serve NULL for
  later-added columns — the batch twin's ``_reader()`` semantics;
- non-streamable history refuses loudly, like Delta CDF without a
  regenerated feed: IN-RANGE schema evolution, bucket-count changes (REBUCKET
  re-hashes every row, per-bucket diffs would lie), a rewritten DV
  list, and bucket rewrites OVER outstanding DVs (a raw pre-image read
  would resurrect the DV'd rows as phantom deletes).

Key-level semantics require the merge key to be unique per row —
guaranteed by MERGE/overwrite flows, and exactly ``version_diff``'s
documented contract.

At 100 TB this is the lakehouse CDC centerpiece: downstream jobs
(incremental MVs — operators/incremental.py consumes exactly these
rows —, search indexers, cache invalidation) subscribe to a mutable
table's row-level deltas and each micro-batch costs the CHANGED bytes,
not the table.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import DataSource, InputPartition

from pucminas_data_pipelines_spark import manifest_log as log
from pucminas_data_pipelines_spark.sources.manifest_stream import (
    ManifestLogReader,
    _open_table,
)


def _arrow_target(manifest: dict):
    """Arrow schema for the manifest's column list, derived from the
    manifest's authoritative Spark schema (never from file footers) —
    the same pinned-schema semantics as the batch twin's ``_reader()``
    (operators/upsert.py): files written before a pre-stream schema
    evolution yield NULL for columns they don't carry instead of
    crashing the scan with ArrowInvalid (ADVICE r11 #2). All fields
    nullable: null-fill is the whole point."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    full = to_arrow_schema(StructType.fromJson(manifest["schema"]))
    return pa.schema(
        [pa.field(c, full.field(c).type, nullable=True) for c in manifest["columns"]]
    )


def _conform(tbl, target):
    """Project an Arrow table onto ``target``: reorder, cast where the
    physical type differs, and null-fill columns absent from the file
    (pre-evolution files)."""
    import pyarrow as pa

    cols = {}
    for f in target:
        if f.name in tbl.schema.names:
            c = tbl.column(f.name)
            cols[f.name] = c.cast(f.type) if c.type != f.type else c
        else:
            cols[f.name] = pa.nulls(tbl.num_rows, type=f.type)
    return pa.table(cols).cast(target)


def _scan_dirs(dirs: list[str], target):
    """Read a list of data directories into ONE Arrow table with the
    manifest-pinned ``target`` schema. Each directory is scanned
    separately (its files share one write-time schema) and conformed,
    so mixed-generation file lists never hit pyarrow's union-dataset
    schema unification."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    if not dirs:
        return target.empty_table()
    pieces = []
    for d in dirs:
        dset = ds.dataset(d, format="parquet")
        present = [c for c in target.names if c in dset.schema.names]
        pieces.append(_conform(dset.to_table(columns=present), target))
    return pa.concat_tables(pieces)


class _InsertDirPartition(InputPartition):
    """One APPEND-added directory: every row is an insert."""

    def __init__(self, abs_dir: str, schema, version: int):
        self.abs_dir = abs_dir
        self.schema = schema  # manifest-pinned Arrow schema
        self.version = version


class _BucketDiffPartition(InputPartition):
    """One rewritten bucket: key-level diff of pre vs post file lists."""

    def __init__(
        self,
        pre_dirs: list[str],
        post_dirs: list[str],
        key: str,
        schema,
        version: int,
    ):
        self.pre_dirs = pre_dirs
        self.post_dirs = post_dirs
        self.key = key
        self.schema = schema
        self.version = version


class _DVDeletePartition(InputPartition):
    """One new deletion-vector sidecar: its (file, row) keys are the
    deleted rows, fetched by positional take."""

    def __init__(self, root: str, dv_abs: str, schema, version: int):
        self.root = root
        self.dv_abs = dv_abs
        self.schema = schema
        self.version = version


class ManifestCDFStreamReader(ManifestLogReader):
    def __init__(self, options: dict):
        super().__init__(options)
        latest = self.opened_at
        self.start_version = int(options.get("startingVersion", latest))
        if self.start_version < -1 or self.start_version > latest:
            raise ValueError(
                f"startingVersion={self.start_version} is out of range: "
                f"pass -1 for full-history replay, or a version in "
                f"[0, {latest}] (latest commit) to emit changes after it"
            )

    # -- offsets ---------------------------------------------------------
    def initialOffset(self) -> dict:
        # CDF semantics: emit changes AFTER startingVersion (default:
        # the version current when the stream started) — there is no
        # initial-snapshot batch; pair with the snapshot source
        # (manifest_stream) when a baseline is needed, or pass
        # startingVersion=-1 for FULL-HISTORY replay (Delta's
        # readChangeFeed startingVersion=0: the first commit's rows
        # arrive as inserts, then every later commit's changes).
        self._note_progress(self.start_version)
        return {"version": self.start_version}

    # -- planning --------------------------------------------------------
    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        self._note_progress(start["version"])  # learn the resumed offset
        out: list[InputPartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            m_v = log.read_manifest(self.path, v)
            if v == 0:
                # full-history replay (startingVersion=-1): version 0
                # diffs against the empty table — every dir is inserts
                m_prev = dict(m_v, buckets={}, deletion_vectors=[])
            else:
                m_prev = log.read_manifest(self.path, v - 1)
            if m_prev["columns"] != m_v["columns"]:
                raise ValueError(
                    f"schema changed at version {v}; the change feed is "
                    "not replayable across schema evolution — restart "
                    "from a fresh checkpoint"
                )
            if m_prev["n_buckets"] != m_v["n_buckets"] or (
                "rebucket_target" in m_prev or "rebucket_target" in m_v
            ):
                raise ValueError(
                    f"bucket count changed at version {v} (REBUCKET, full "
                    "or incremental, re-hashes rows across generations; "
                    "per-bucket diffs would emit phantom changes) — "
                    "restart from a fresh checkpoint"
                )
            target = _arrow_target(m_v)
            key = m_v["key"]
            prev_dvs = m_prev.get("deletion_vectors", [])
            cur_dvs = m_v.get("deletion_vectors", [])
            if cur_dvs[: len(prev_dvs)] != prev_dvs:
                raise ValueError(
                    f"deletion-vector list was rewritten at version {v}; "
                    "row-grain attribution is lost — restart downstream "
                    "from a fresh snapshot"
                )
            for dv_rel in cur_dvs[len(prev_dvs):]:
                out.append(
                    _DVDeletePartition(
                        self.path, log.resolve(self.path, dv_rel), target, v
                    )
                )
            bf, bt = m_prev["buckets"], m_v["buckets"]
            for b in sorted(set(bf) | set(bt)):
                pre, post = bf.get(b, []), bt.get(b, [])
                if pre == post:
                    continue
                if post[: len(pre)] == pre:
                    # pure append into this bucket: inserts only
                    for d in post[len(pre):]:
                        out.append(
                            _InsertDirPartition(
                                log.resolve(self.path, d), target, v
                            )
                        )
                    continue
                if prev_dvs:
                    raise ValueError(
                        f"version {v} rewrote bucket {b} over outstanding "
                        "deletion vectors; a raw pre-image read would "
                        "resurrect the DV'd rows as phantom deletes — "
                        "optimize() before streaming changes"
                    )
                out.append(
                    _BucketDiffPartition(
                        [log.resolve(self.path, d) for d in pre],
                        [log.resolve(self.path, d) for d in post],
                        key,
                        target,
                        v,
                    )
                )
        return out or [_InsertDirPartition("", None, end["version"])]

    # -- executor read ---------------------------------------------------
    def read(self, partition) -> Iterator:
        if isinstance(partition, _InsertDirPartition):
            if not partition.abs_dir:
                return iter(())
            tbl = _scan_dirs([partition.abs_dir], partition.schema)
            return self._stamped(tbl, "insert", partition.version)
        if isinstance(partition, _DVDeletePartition):
            return self._read_dv_deletes(partition)
        return self._read_bucket_diff(partition)

    @staticmethod
    def _stamped(tbl, change_type: str, version: int) -> Iterator:
        import pyarrow as pa

        n = tbl.num_rows
        tbl = tbl.append_column(
            "_change_type", pa.array([change_type] * n, type=pa.string())
        ).append_column(
            "_commit_version", pa.array([version] * n, type=pa.int64())
        )
        return iter(tbl.to_batches())

    def _read_dv_deletes(self, p: _DVDeletePartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.dataset as ds

        pieces = []
        for f, rows in sorted(log.dv_rows(p.root, [p.dv_abs]).items()):
            dset = ds.dataset(log.resolve(p.root, f), format="parquet")
            present = [c for c in p.schema.names if c in dset.schema.names]
            # take by position FIRST (row indices are per-file), then
            # conform to the manifest-pinned schema (pre-evolution files
            # null-fill later-added columns instead of ArrowInvalid)
            pieces.append(
                _conform(dset.to_table(columns=present).take(rows), p.schema)
            )
        if not pieces:
            return iter(())
        return self._stamped(pa.concat_tables(pieces), "delete", p.version)

    def _read_bucket_diff(self, p: _BucketDiffPartition) -> Iterator:
        import pandas as pd
        import pyarrow as pa
        import pyarrow.types as pat

        target = p.schema

        def load(dirs):
            return _scan_dirs(dirs, target).to_pandas(types_mapper=pd.ArrowDtype)

        pre, post = load(p.pre_dirs), load(p.post_dirs)
        payload = [c for c in target.names if c != p.key]
        floats = {
            f.name for f in target if pat.is_floating(f.type)
        }
        merged = pre.merge(
            post,
            on=p.key,
            how="outer",
            suffixes=("__pre", "__post"),
            indicator=True,
        )
        def side(frame, suffix):
            cols = {}
            for c in target.names:
                cols[c] = (
                    frame[p.key]
                    if c == p.key
                    else frame[f"{c}{suffix}"]
                )
            return pd.DataFrame(cols)

        deletes = side(merged[merged["_merge"] == "left_only"], "__pre")
        inserts = side(merged[merged["_merge"] == "right_only"], "__post")
        both = merged[merged["_merge"] == "both"]
        if payload and len(both):
            differs = pd.Series(False, index=both.index)
            for c in payload:
                a, b = both[f"{c}__pre"], both[f"{c}__post"]
                eq = (a == b).fillna(False) | (a.isna() & b.isna())
                if c in floats:
                    # Arrow floats keep NaN distinct from null, and
                    # NaN != NaN — a rewrite copying a NaN-valued row
                    # through unchanged must NOT emit a spurious update
                    # pair (ADVICE r11 #4): NaN==NaN here.
                    both_nan = (a != a).fillna(False) & (b != b).fillna(False)
                    eq |= both_nan
                differs |= ~eq
            both = both[differs]
        else:
            both = both.iloc[0:0]
        out = []
        for frame, kind in (
            (deletes, "delete"),
            (inserts, "insert"),
            (side(both, "__pre"), "update_preimage"),
            (side(both, "__post"), "update_postimage"),
        ):
            if not len(frame):
                continue
            tbl = pa.Table.from_pandas(
                frame, schema=target, preserve_index=False
            )
            out.extend(self._stamped(tbl, kind, p.version))
        return iter(out)


class ManifestCDFDataSource(DataSource):
    """Usage::

        spark.dataSource.register(ManifestCDFDataSource)
        (spark.readStream.format("manifest_cdf")
              .option("path", p)
              .option("startingVersion", 0)   # default: current version
              .load())
    """

    @classmethod
    def name(cls) -> str:
        return "manifest_cdf"

    def schema(self):
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        path, latest = _open_table(self.options)
        base = StructType.fromJson(log.read_manifest(path, latest)["schema"])
        return StructType(
            list(base.fields)
            + [
                StructField("_change_type", StringType(), False),
                StructField("_commit_version", LongType(), False),
            ]
        )

    def streamReader(self, schema) -> ManifestCDFStreamReader:
        return ManifestCDFStreamReader(self.options)
