"""Raw-zone archival: move consumed input files after a successful
curated write — the reference's Step Functions + Lambda archive step
(/root/reference/stepfunctions/lambda_function.py:37-108) reduced to a
local/HDFS-style file move with the same batched, resumable semantics.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from lakehouse_architecture_spark.sinks.writers import _require_local_path


@dataclass
class ArchiveResult:
    moved: list[str]
    failed: list[str]


def archive_files(
    source_dir: str,
    archive_dir: str,
    suffix: str = ".csv",
    batch_size: int = 100,
) -> ArchiveResult:
    """Move every ``suffix`` file from source to archive (idempotent:
    an already-archived name is overwritten, mirroring S3 copy+delete).
    Batched like the Lambda (batches of 100,
    lambda_function.py:24) so a failure mid-run leaves a resumable state,
    never a half-copied file.

    Local filesystem paths only: a ``scheme://`` source or archive raises
    ``ValueError`` before any file moves."""
    for path in (source_dir, archive_dir):
        _require_local_path(path)
    os.makedirs(archive_dir, exist_ok=True)
    moved: list[str] = []
    failed: list[str] = []
    batch: list[str] = []
    for name in sorted(os.listdir(source_dir)):
        if not name.endswith(suffix):
            continue
        batch.append(name)
        if len(batch) >= batch_size:
            _move_batch(source_dir, archive_dir, batch, moved, failed)
            batch = []
    if batch:
        _move_batch(source_dir, archive_dir, batch, moved, failed)
    return ArchiveResult(moved=moved, failed=failed)


def _move_batch(src, dst, names, moved, failed) -> None:
    for name in names:
        try:
            shutil.move(os.path.join(src, name), os.path.join(dst, name))
            moved.append(name)
        except OSError:
            failed.append(name)
