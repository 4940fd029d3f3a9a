"""Filesystem utilities over the Hadoop FS API.

One code path for local, HDFS, and s3a URIs — this replaces the
reference's whole boto3 side-channel (list/download/upload/move/delete:
aws_read.py, aws_file_download.py, upload_to_s3.py, move_files.py,
aws_delete.py, local_file_delete.py ≈ 110 LoC, SURVEY §2a S8-S13).
Spark reads object stores directly; only quarantine/archive moves need
an FS verb at all.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(conf), p


def path_exists(spark: SparkSession, path: str) -> bool:
    """FS-agnostic existence probe (distinguishes 'no state yet' from
    'state unreadable' in pipeline.state.AuditState)."""
    _, fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def list_files(spark: SparkSession, directory: str, suffix: str = ".csv") -> list[str]:
    """Non-recursive file listing (the reference's S3Reader.list_files,
    aws_read.py:7-23, minus the download that followed it)."""
    jvm, fs, p = _fs(spark, directory)
    if not fs.exists(p):
        return []
    out = []
    for status in fs.listStatus(p):
        if status.isFile() and status.getPath().getName().endswith(suffix):
            out.append(status.getPath().toString())
    return sorted(out)


def _rename(fs, src_p, dst_p) -> None:
    # Hadoop reports a failed rename as False, not as an exception
    if not fs.rename(src_p, dst_p):
        raise RuntimeError(f"rename failed: {src_p.toString()} -> {dst_p.toString()}")


def rename_path(spark: SparkSession, src: str, dst: str) -> None:
    """Rename src to dst; raises RuntimeError if the filesystem refuses."""
    jvm, fs, src_p = _fs(spark, src)
    _rename(fs, src_p, jvm.org.apache.hadoop.fs.Path(dst))


def move_file(spark: SparkSession, src: str, dst_dir: str) -> str:
    """Move src into dst_dir (quarantine/archive routing — the
    reference's move_s3_to_s3, move_files.py:26-62). Raises
    RuntimeError if the rename fails, so the caller never records a
    move that did not happen."""
    jvm, fs, src_p = _fs(spark, src)
    dst_dir_p = jvm.org.apache.hadoop.fs.Path(dst_dir)
    if not fs.exists(dst_dir_p):
        fs.mkdirs(dst_dir_p)
    dst_p = jvm.org.apache.hadoop.fs.Path(dst_dir + "/" + src_p.getName())
    if fs.exists(dst_p):
        fs.delete(dst_p, False)
    _rename(fs, src_p, dst_p)
    return dst_p.toString()


def delete_path(spark: SparkSession, path: str, recursive: bool = False) -> bool:
    """Delete a file (or, with ``recursive``, a directory tree) — the
    reference's S3Deleter / delete_local_file pair (aws_delete.py:11-23,
    local_file_delete.py:5-19) as one FS-agnostic verb. Returns False if
    the path did not exist (idempotent cleanup: re-runs after a partial
    failure must not error on already-removed staging files)."""
    _, fs, p = _fs(spark, path)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, recursive))
