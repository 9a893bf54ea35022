"""Exception types mirroring the reference's error surface.

Reference: ``python-sdk/src/astro/exceptions.py`` defines
NonExistentTableException / IllegalLoadToDatabaseException /
DatabaseCustomError.  We keep a compact equivalent set.
"""

from __future__ import annotations


class AstroSparkError(Exception):
    """Base class for engine errors."""


class NonExistentTableError(AstroSparkError):
    """Raised when an operation targets a table that does not exist."""


class MergeConflictError(AstroSparkError):
    """Raised by merge(if_conflicts='exception') when source keys collide
    with target keys (reference: unique-constraint violation path,
    ``databases/base.py:201-209``)."""


class IllegalIdentifierError(AstroSparkError):
    """Raised when a table/column identifier fails validation before being
    interpolated into SQL text (reference: SQL-injection guards at
    ``databases/snowflake.py:1107-1155``)."""


class FileExistsConflictError(AstroSparkError):
    """Raised by export_to_file(if_exists='exception') when the target file
    already exists (reference: ``sql/operators/export_to_file.py``)."""


class ConcurrentWriteError(AstroSparkError):
    """Another writer committed the version this writer raced for."""
