"""Where persisted sketch state and its config manifest live.

Every persisted state in the engine carries a JSON manifest beside it that
pins the config it was built under, mirroring the reference's merge
precondition ``assert(config == other.getConfig())`` (sketch.hpp:1021):

- pipeline stage checkpoints: ``<checkpoint_dir>/<stage>/_MANIFEST.json``
  (a mismatch means recompute);
- the signature store: ``_STORE_MANIFEST.json`` (a mismatch refuses);
- the KMV store: ``_KMV_STORE_MANIFEST.json`` (a mismatch refuses).

All IO here goes through the session's Hadoop ``FileSystem`` (``spark._jvm``),
so a bare path, ``file://``, ``hdfs://`` or ``s3a://`` resolves the same
on every driver, whatever its host or working directory, and the manifest
always lands beside the parquet Spark wrote.
"""

from __future__ import annotations

import json


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path) for ``path`` with the session's Hadoop
    configuration: LocalFileSystem for bare and file:// paths, the
    scheme's own filesystem (hdfs, s3a, ...) otherwise."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def read_manifest(spark, path: str) -> dict | None:
    """The JSON manifest at ``path``, or None if there is none."""
    fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return json.loads(
            spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        )
    finally:
        stream.close()


def write_manifest(spark, path: str, manifest: dict) -> None:
    """Write ``manifest`` as JSON at ``path``, replacing any file there.
    ``FileSystem.create`` makes the missing parent directories."""
    fs, p = _hadoop_fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(manifest, indent=1).encode("utf-8")))
    finally:
        out.close()


def check_or_write_manifest(spark, path: str, expected: dict, what: str) -> None:
    """Pin ``expected`` as the manifest at ``path`` when there is none;
    refuse (ValueError) when one exists and differs, since appending
    state built under another config or layout would silently corrupt it."""
    found = read_manifest(spark, path)
    if found is None:
        write_manifest(spark, path, expected)
    elif found != expected:
        raise ValueError(
            f"{what} was written with config/layout {found}; refusing to "
            f"append with {expected}: migrate it or start a fresh store"
        )


def list_batch_dirs(spark, store_path: str, exclude_batch_id=None) -> list[str]:
    """Sorted ``batch_id=N`` partition names under ``store_path`` ([] when
    it does not exist), without ``batch_id=<exclude_batch_id>``."""
    fs, p = _hadoop_fs(spark, store_path)
    if not fs.exists(p):
        return []
    skip = f"batch_id={exclude_batch_id}"
    return sorted(
        name
        for name in (st.getPath().getName() for st in fs.listStatus(p))
        if name.startswith("batch_id=") and name != skip
    )


def delete(spark, path: str) -> bool:
    """Delete ``path`` recursively; False when there was nothing there."""
    fs, p = _hadoop_fs(spark, path)
    return bool(fs.delete(p, True))
