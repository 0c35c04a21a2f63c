"""One classification of engine exceptions for both front doors.

HTTP ``_sql`` and pg-wire report the same failure under their own
codes (``rest/action/HttpError.java`` families, PG SQLSTATEs); each
maps the class returned here to its code.
"""

from __future__ import annotations


def error_class(exc: Exception) -> str:
    """``permission``, ``duplicate_key``, ``unknown_relation``,
    ``user`` (a statement the engine rejects) or ``internal``."""
    msg = str(exc)
    if type(exc).__name__ == "PermissionDenied" or "not authorized" in msg:
        return "permission"
    if "conflict with existing primary key" in msg:
        return "duplicate_key"
    if "TABLE_OR_VIEW_NOT_FOUND" in msg or "unknown table" in msg:
        return "unknown_relation"
    if (
        isinstance(exc, ValueError)
        or "PARSE_SYNTAX_ERROR" in msg
        or "Analysis" in type(exc).__name__
    ):
        return "user"
    return "internal"
