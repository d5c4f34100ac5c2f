"""On-disk log of a ManifestVersionedTable (operators/upsert.py) — the
one module that knows its format. The table, both stream sources
(sources/manifest_stream.py, sources/manifest_cdf.py) and the Delta-log
export read and write the log only through these functions.

Layout under a table root::

    <root>/_manifests/v=<N>.json   one immutable manifest per version
    <root>/_LATEST                 hint: the newest committed version
    <root>/data/<commit>/...       bucket dirs (stored root-relative)
    <root>/_dvs/<id>/              deletion-vector sidecars: one row
                                   (__dv_file, __dv_row) per deleted row

A version is committed when its manifest is linked into place,
put-if-absent: two writers racing for version N cannot both win, and
the loser gets ConcurrentWriteError. ``_LATEST`` is repointed after the
link and is only a hint; a writer killed between the two leaves a
durable commit that ``latest_version`` finds by walking forward.

Standard library only (pyarrow is imported lazily for sidecars), so
Python workers import it cheaply.
"""

from __future__ import annotations

import datetime
import json
import os
import uuid


class ConcurrentWriteError(RuntimeError):
    """A concurrent writer committed the same table version first
    (optimistic-concurrency conflict — re-read and retry)."""


def _latest_path(root: str) -> str:
    return os.path.join(root, "_LATEST")


def manifest_path(root: str, version: int) -> str:
    return os.path.join(root, "_manifests", f"v={version}.json")


def atomic_write(path: str, text: str) -> None:
    """Publish ``text`` at ``path`` via a temp file + ``os.replace``: a
    concurrent reader (the stream sources poll ``_LATEST`` every
    trigger) sees the old content or the new, never a torn or empty
    file, and a writer killed mid-write leaves the old content."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def latest_hint(root: str) -> int:
    """The version ``_LATEST`` names; -1 when there is none."""
    try:
        with open(_latest_path(root)) as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        return -1


def publish_latest(root: str, version: int) -> None:
    atomic_write(_latest_path(root), str(version))


def latest_version(root: str) -> int:
    """Newest committed version (-1: no table). The hint plus a forward
    walk over linked manifests — one extra stat when the hint is
    current; the next successful commit repairs a stale hint."""
    v = latest_hint(root)
    while os.path.exists(manifest_path(root, v + 1)):
        v += 1
    return v


def versions(root: str) -> list[int]:
    """Every version whose manifest survives (vacuum removes expired
    ones), ascending."""
    try:
        names = os.listdir(os.path.join(root, "_manifests"))
    except FileNotFoundError:
        return []
    return sorted(
        int(n[2:-5]) for n in names if n.startswith("v=") and n.endswith(".json")
    )


def read_manifest(root: str, version: int) -> dict:
    try:
        with open(manifest_path(root, version)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        raise ValueError(
            f"version {version} does not exist (never committed, or "
            "expired by vacuum()); a stream checkpointed at it must "
            "restart from a fresh checkpoint"
        ) from None


def commit(root: str, version: int, manifest: dict) -> None:
    """Put-if-absent commit of ``manifest`` as ``version`` (Delta's
    transaction-log contract): stage to a temp file, ``os.link`` it into
    place — atomic, and failing if the version exists — then repoint
    ``_LATEST``. Stamps ``commit_info.ts`` unless the caller set it."""
    info = dict(manifest.get("commit_info", {}))
    info.setdefault("ts", datetime.datetime.now().astimezone().isoformat())
    os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)
    target = manifest_path(root, version)
    staged = f"{target}.tmp.{uuid.uuid4().hex[:8]}"
    with open(staged, "w") as fh:
        json.dump(dict(manifest, commit_info=info), fh)
    try:
        os.link(staged, target)
    except FileExistsError:
        raise ConcurrentWriteError(
            f"version {version} of {root} was committed by a concurrent "
            "writer; re-read the table and retry"
        ) from None
    finally:
        os.unlink(staged)
    publish_latest(root, version)


def resolve(root: str, d: str) -> str:
    """A manifest-recorded path against the table root (manifests store
    root-relative paths; absolute entries — shallow clones, older
    manifests — resolve as themselves)."""
    return d if os.path.isabs(d) else os.path.join(root, d)


def bucket_dirs(
    buckets: dict[str, list[str]], subset: list[str] | None = None
) -> list[str]:
    keys = sorted(buckets) if subset is None else [b for b in subset if b in buckets]
    return [d for b in keys for d in buckets[b]]


def all_dirs(manifest: dict) -> list[str]:
    """Every data dir a manifest references: the current-generation
    bucket map plus, mid-rebucket, the already-migrated target-
    generation map (``buckets_next``). Full scans and reference
    counting must use THIS, not ``buckets`` alone."""
    return bucket_dirs(manifest["buckets"]) + bucket_dirs(
        manifest.get("buckets_next", {})
    )


def parquet_files(d: str) -> list[str]:
    """Sorted ``.parquet`` file names in directory ``d``."""
    return sorted(n for n in os.listdir(d) if n.endswith(".parquet"))


def dv_rows(root: str, dv_paths: list[str]) -> dict[str, list[int]]:
    """Decode deletion-vector sidecars to {file: sorted deleted row
    positions}; the file keys are spelled as the sidecars store them
    (root-relative)."""
    if not dv_paths:
        return {}
    import pyarrow.dataset as ds

    out: dict[str, list[int]] = {}
    for p in dv_paths:
        dv = ds.dataset(resolve(root, p), format="parquet").to_table()
        for f, r in zip(
            dv.column("__dv_file").to_pylist(), dv.column("__dv_row").to_pylist()
        ):
            out.setdefault(f, []).append(r)
    for rows in out.values():
        rows.sort()
    return out
