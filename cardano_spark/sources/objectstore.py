"""Object-store get/put/list seam (SURVEY §2.1 S9/S10) on the Hadoop
FileSystem API — the SAME abstraction ``s3a://`` implements, so the
code below runs unchanged against ``file://`` (tests), ``hdfs://``,
or ``s3a://bucket`` (the 100 TB deployment); only the base URI
changes.

The reference drives boto3 directly (upload_fileobj /
download_fileobj / a ListObjectsV2 paginator,
src/file_explorer/s3_file_explorer.py:18-51). Spark's data sources
already cover the bulk read path (sources/files.py); this wrapper
covers the residual imperative surface — single-object get/put,
rename and flat or glob listings for driver-side control state (the
watermark ledger in watermark.py, manifest files, small control
reads) — without importing any cloud SDK: the JVM that is already
running Spark carries the FileSystem implementations.
"""

from __future__ import annotations

from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


#: bytes per py4j call in get/put. A py4j message over about 8 KiB
#: waits ~40 ms on the socket (Nagle against delayed ACK; measured on
#: local mode), so larger objects move in pieces that stay under it
_PIECE = 4096


@dataclass(frozen=True)
class ObjectInfo:
    """One listed object (the reference's FileInfo,
    src/models/file_info/file_info.py)."""

    path: str  # path relative to the store's base URI
    size: int


class ObjectStore:
    """get/put/list over any Hadoop-supported filesystem URI."""

    def __init__(self, spark: SparkSession, base_uri: str):
        self.spark = spark
        self.base_uri = base_uri.rstrip("/")
        jvm = spark._jvm
        base = jvm.java.net.URI(self.base_uri)
        self._fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            base, spark._jsc.hadoopConfiguration()
        )
        # py4j resolves a JVM class name by reflection on every
        # attribute walk; listing uses these once per object, so
        # resolve them once here
        self._Path = jvm.org.apache.hadoop.fs.Path
        # qualified, so a relative base still strips from listed paths
        self._base_path = self._fs.makeQualified(self._Path(self.base_uri)).toUri().getPath()

    def _jpath(self, rel: str):
        rel = rel.lstrip("/")
        return self._Path(f"{self.base_uri}/{rel}")

    def _rel(self, jpath) -> str:
        full = jpath.toUri().getPath()
        return full[len(self._base_path):].lstrip("/")

    # -- S10: get / put ------------------------------------------------

    def put(self, rel: str, data: bytes) -> None:
        """Upload one object (upload_buffer,
        s3_file_explorer.py:18-20). Overwrites."""
        self._write(self._fs.create(self._jpath(rel), True), data)

    def put_if_absent(self, rel: str, data: bytes) -> None:
        """Create one object only if none has its name, else raise: the
        commit point of a versioned manifest. The exclusive create is
        atomic on HDFS and a check-then-create on the local
        filesystem."""
        self._write(self._fs.create(self._jpath(rel), False), data)

    @staticmethod
    def _write(out, data: bytes) -> None:
        try:
            for i in range(0, len(data), _PIECE):
                out.write(bytearray(data[i : i + _PIECE]))
        finally:
            out.close()

    def rename(self, src: str, dst: str) -> None:
        """Move one object onto ``dst``, replacing any object there and
        creating ``dst``'s parent: the publish step of
        write-temp-then-rename, and the move of a staged file into its
        table directory. FileSystem.rename does not replace on every
        filesystem, so a refused rename is redone as FileContext's
        replacing rename: one atomic call on HDFS, while the local
        filesystem deletes ``dst`` just before it."""
        source, target = self._jpath(src), self._jpath(dst)
        self._fs.mkdirs(target.getParent())
        if self._fs.rename(source, target):
            return
        jvm = self.spark._jvm
        opts = self.spark.sparkContext._gateway.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
        opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        ctx = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            self._fs.getUri(), self.spark._jsc.hadoopConfiguration()
        )
        ctx.rename(source, target, opts)

    def get(self, rel: str) -> bytes:
        """Download one object fully into memory (download_to_buffer,
        s3_file_explorer.py:22-29). For bulk data use the Spark
        readers — this is the driver-side control-object path. A
        missing object raises :class:`FileNotFoundError`, so a caller
        needs no ``exists`` round trip first."""
        try:
            stream = self._fs.open(self._jpath(rel))
        except Py4JJavaError as e:
            if e.java_exception.getClass().getName() == "java.io.FileNotFoundException":
                raise FileNotFoundError(f"{self.base_uri}/{rel}") from None
            raise
        try:
            return b"".join(iter(lambda: bytes(stream.readNBytes(_PIECE)), b""))
        finally:
            stream.close()

    def exists(self, rel: str) -> bool:
        return self._fs.exists(self._jpath(rel))

    def size(self, rel: str) -> int:
        """Bytes of one object, or of every object under a prefix."""
        return int(self._fs.getContentSummary(self._jpath(rel)).getLength())

    def delete(self, rel: str) -> bool:
        return self._fs.delete(self._jpath(rel), True)

    # -- S9: listing -----------------------------------------------------

    def list_names(self, prefix: str = "") -> list[str]:
        """Names of the files directly under a prefix: one
        non-recursive listing (ListObjectsV2 with a delimiter), for
        small flat control directories such as the watermark ledger.
        On the local filesystem it costs ~0.3 ms per object, against
        ~3.5 ms for a recursive located listing, which stats every
        file again (measured on a 4-vCPU host)."""
        root = self._jpath(prefix)
        if not self._fs.exists(root):
            return []
        return sorted(
            st.getPath().getName() for st in self._fs.listStatus(root) if st.isFile()
        )

    def glob(self, pattern: str) -> list[ObjectInfo]:
        """Objects matching a glob pattern under the base URI, such as
        ``_bucket=*/*.parquet``: one listing per directory the pattern
        reaches, so a caller that knows its layout lists no more."""
        found = self._fs.globStatus(self._jpath(pattern)) or []
        return sorted(
            (ObjectInfo(self._rel(st.getPath()), st.getLen()) for st in found),
            key=lambda o: o.path,
        )
