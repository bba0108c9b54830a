"""Remote-filesystem abstraction with retry + client-error isolation.

Reference: databuilder/filesystem/filesystem.py — a Dask-FS wrapper whose
``ls``/``is_file``/``info`` calls retry up to 3 times with exponential
backoff (1s doubling, 5s cap) on any error EXCEPT client-side errors
(ClientError / FileNotFoundError / ParamValidationError), which surface
immediately (:15-33 predicates, @retry decorators :80-106).
``info`` maps implementation-specific metadata keys through a configurable
mapping (default LastModified/Size, :51-57) into FileMetadata
(databuilder/filesystem/metadata.py).

Spark shape: the client is driver-side plumbing (the reference uses it
from HiveTableLastUpdatedExtractor's thread pool); the set-level
equivalent is ``file_metadata_df`` which turns a listing into a DataFrame
so "max mtime per table" becomes a groupBy aggregate — or, for real
storage, ``spark.read.format('binaryFile')`` (sources/hive.py). The
injected ``fs`` object needs only ``ls(path) -> list[str]`` and
``info(path) -> dict`` — the Dask-FS surface the reference relies on.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

# reference :14 CLIENT_ERRORS
CLIENT_ERRORS = {"ClientError", "FileNotFoundError", "ParamValidationError"}

LAST_UPDATED = "last_updated"
SIZE = "size"
DEFAULT_METADATA_MAPPING = {LAST_UPDATED: "LastModified", SIZE: "Size"}


def is_client_side_error(e: Exception) -> bool:
    """reference :17-24 — match on exception class name."""
    return e.__class__.__name__ in CLIENT_ERRORS


@dataclass
class FileMetadata:
    """databuilder/filesystem/metadata.py:7-20."""
    path: str
    last_updated: Any
    size: int


class FileSystemClient:
    """``ls`` / ``is_file`` / ``info`` with the reference's retry policy.

    max_attempts=3, exponential backoff 1s * 2^n capped at 5s
    (reference @retry args: stop_max_attempt_number=3,
    wait_exponential_multiplier=1000, wait_exponential_max=5000).
    ``sleep`` is injectable so tests don't wait.
    """

    def __init__(self, fs: Any,
                 metadata_key_mapping: dict[str, str] | None = None,
                 max_attempts: int = 3,
                 backoff_base_sec: float = 1.0,
                 backoff_max_sec: float = 5.0,
                 sleep: Callable[[float], None] = time.sleep) -> None:
        self._fs = fs
        self._mapping = metadata_key_mapping or dict(DEFAULT_METADATA_MAPPING)
        self._max_attempts = max_attempts
        self._base = backoff_base_sec
        self._cap = backoff_max_sec
        self._sleep = sleep

    def _retry(self, fn: Callable[[], Any]) -> Any:
        for attempt in range(self._max_attempts):
            try:
                return fn()
            except Exception as e:  # noqa: BLE001 — predicate decides
                if is_client_side_error(e) or attempt == self._max_attempts - 1:
                    raise
                self._sleep(min(self._base * (2 ** attempt), self._cap))

    def ls(self, path: str) -> list[str]:
        return self._retry(lambda: self._fs.ls(path))

    def is_file(self, path: str) -> bool:
        """reference :91-94: a path is a file iff it lists as exactly
        itself."""
        contents = self._retry(lambda: self._fs.ls(path))
        return len(contents) == 1 and contents[0] == path

    def info(self, path: str) -> FileMetadata:
        """reference :96-107: metadata dict -> FileMetadata through the
        key mapping."""
        md = self._retry(lambda: self._fs.info(path))
        return FileMetadata(path=path,
                            last_updated=md[self._mapping[LAST_UPDATED]],
                            size=md[self._mapping[SIZE]])


def file_metadata_df(spark: SparkSession, client: FileSystemClient,
                     paths: Sequence[str]) -> DataFrame:
    """Stat a path list into (path, last_updated, size) rows — the
    set-level form of the reference's ThreadPool-stat loop
    (hive_table_last_updated_extractor.py:235-269); downstream
    ``max(last_updated)`` per table is a plain aggregate."""
    rows = [(m.path, int(m.last_updated), int(m.size))
            for m in (client.info(p) for p in paths)]
    return spark.createDataFrame(rows, "path string, last_updated long, size long")
