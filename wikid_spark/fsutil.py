"""Hadoop-FileSystem text/dir helpers shared by every persisted-index
layout (ANN, FTS, versioned roots).

Commit markers, specs, pointers and provenance must land on the SAME
filesystem as the parquet artifacts (ADVICE r11: a driver-local
``open()`` half-commits a build on s3a://, hdfs://, … — exactly the
100 TB deployment target), so everything here goes through the JVM's
``FileSystem`` API and works on any URI the cluster supports.

Moved verbatim from ``queries.similarity`` in round 16 so the generic
versioned-root engine (`wikid_spark.versioned`) can use them without a
queries-package import cycle; ``similarity`` re-imports the same names.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for any supported URI."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _fs_write_text(spark: SparkSession, path: str, text: str = "") -> None:
    fs, jpath = _fs_and_path(spark, path)
    out = fs.create(jpath, True)
    try:
        if text:
            out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _fs_read_text(spark: SparkSession, path: str) -> str:
    fs, jpath = _fs_and_path(spark, path)
    stream = fs.open(jpath)
    try:
        # py4j copies bytearray args, so Java readFully can't fill a
        # Python buffer — drain the stream JVM-side instead.
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_and_path(spark, path)
    return fs.exists(p)


def _fs_delete(spark: SparkSession, path: str) -> None:
    fs, p = _fs_and_path(spark, path)
    fs.delete(p, True)


def _fs_list_names(spark: SparkSession, path: str) -> list[str]:
    fs, p = _fs_and_path(spark, path)
    if not fs.exists(p):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(p))
