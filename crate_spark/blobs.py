"""Blob tables — content-addressed binary storage.

Reference parity:
- ``docs/sql/statements/create-blob-table.rst``: ``CREATE BLOB TABLE
  name [CLUSTERED INTO n SHARDS] [WITH (blobs_path='...')]``; blob
  tables are always sharded by digest
- ``docs/general/blobs.rst``: upload via
  ``PUT /_blobs/<table>/<sha1>`` (the digest IS the key and is
  verified server-side), ``GET``/``HEAD``/``DELETE``; listing via
  ``SELECT digest, last_modified FROM blob.<table>``
- ``blob/v2/BlobIndex.java`` / ``BlobShard.java``: on-disk layout is
  one file per digest under a digest-prefix shard directory

Spark-first: the SQL-visible side (``blob.<t>``) is a distributed
``binaryFile`` scan over the blob directory — listing and reading
scale over executors; nothing is proxied through the driver except
the single-object HTTP put/get (which is single-object by nature).
The digest-prefix subdirectories are the shard analog: a 100 TB blob
store fans out across prefixes exactly like the reference's
digest-sharded BlobShards.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
from dataclasses import dataclass, field

from crate_spark.session import local_frame


class BlobError(Exception):
    """Blob storage failure (bad digest, unknown table)."""


_DIGEST_RE = re.compile(r"^[0-9a-f]{40}$")


@dataclass
class BlobTable:
    name: str
    path: str
    #: CLUSTERED INTO n SHARDS — digest-prefix fanout width (advisory
    #: beyond 256: prefixes are 2 hex chars)
    shards: int = 4
    settings: dict = field(default_factory=dict)

    def _file(self, digest: str) -> str:
        return os.path.join(self.path, digest[:2], digest)

    def _has_files(self) -> bool:
        return os.path.isdir(self.path) and any(os.scandir(self.path))

    def put(self, content: bytes, digest: str | None = None) -> str:
        """Store one blob; verifies the sha1 digest like the reference
        (``PUT /_blobs/<table>/<digest>`` 400s on mismatch)."""
        actual = hashlib.sha1(content).hexdigest()
        if digest is not None and digest.lower() != actual:
            raise BlobError(f"digest mismatch: got {digest}, content is {actual}")
        target = self._file(actual)
        os.makedirs(os.path.dirname(target), exist_ok=True)
        tmp = target + ".part"
        with open(tmp, "wb") as f:
            f.write(content)
        os.replace(tmp, target)  # atomic publish, PUT is idempotent
        return actual

    def get(self, digest: str) -> bytes:
        digest = digest.lower()
        if not _DIGEST_RE.match(digest):
            raise BlobError(f"invalid digest '{digest}'")
        try:
            with open(self._file(digest), "rb") as f:
                return f.read()
        except FileNotFoundError:
            raise BlobError(f"blob {digest} not found") from None

    def exists(self, digest: str) -> bool:
        return os.path.isfile(self._file(digest.lower()))

    def delete(self, digest: str) -> bool:
        try:
            os.remove(self._file(digest.lower()))
            return True
        except FileNotFoundError:
            return False

    def df(self, spark):
        """``blob.<name>`` relation: (digest, last_modified) — a
        distributed binaryFile listing, content column dropped so a
        catalog listing never reads payload bytes."""
        from pyspark.sql import functions as F

        if not self._has_files():
            return local_frame(spark, [], "digest string, last_modified timestamp")
        return (
            spark.read.format("binaryFile")
            .option("recursiveFileLookup", "true")
            .load(self.path)
            .select(
                F.regexp_extract("path", "([0-9a-f]{40})$", 1).alias("digest"),
                F.col("modificationTime").alias("last_modified"),
            )
            .filter("digest <> ''")
        )

    def content_df(self, spark):
        """(digest, content) — the multimodal-pipeline entry point:
        feed blob payloads into mapInPandas decoders without leaving
        the executors."""
        from pyspark.sql import functions as F

        if not self._has_files():
            return local_frame(spark, [], "digest string, content binary")
        return (
            spark.read.format("binaryFile")
            .option("recursiveFileLookup", "true")
            .load(self.path)
            .select(
                F.regexp_extract("path", "([0-9a-f]{40})$", 1).alias("digest"),
                F.col("content"),
            )
            .filter("digest <> ''")
        )


class BlobStore:
    """Catalog of blob tables (CREATE/DROP BLOB TABLE)."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.tables: dict[str, BlobTable] = {}

    def create(self, name: str, shards: int = 4, settings: dict | None = None) -> BlobTable:
        key = name.lower()
        if key in self.tables:
            raise BlobError(f"Blob table '{name}' already exists")
        settings = settings or {}
        path = settings.get("blobs_path") or os.path.join(self.root, f"_blobs_{key}")
        os.makedirs(path, exist_ok=True)
        t = BlobTable(key, path, shards=shards, settings=settings)
        self.tables[key] = t
        return t

    def drop(self, name: str, *, if_exists: bool = False) -> bool:
        key = name.lower()
        t = self.tables.pop(key, None)
        if t is None:
            if if_exists:
                return False
            raise BlobError(f"Blob table '{name}' does not exist")
        shutil.rmtree(t.path, ignore_errors=True)
        return True

    def get(self, name: str) -> BlobTable:
        key = name.lower()
        if key not in self.tables:
            raise BlobError(f"Blob table '{name}' does not exist")
        return self.tables[key]
