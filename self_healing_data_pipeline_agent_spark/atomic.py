"""Crash-safe replacement of a small local file.

The writer fills a hidden temp file (``.<name>.<uuid>.tmp``) beside the
target and ``os.replace``s it into place, so a reader sees the old file or
the new one, never a truncated one.  The leading ``.`` keeps the temp file
out of Spark's file index and file stream source, which skip hidden files.
Atomic against a writer that crashes or raises, not durable against power
loss (no fsync).
"""

from __future__ import annotations

import os
import uuid
from pathlib import Path
from typing import IO, Any, Callable


def atomic_write(path: str | Path, write: Callable[[IO[Any]], None], binary: bool = False) -> None:
    """Call ``write`` on an open temp file, then move it over ``path``.
    If ``write`` raises, the temp file is removed and ``path`` is left as
    it was."""
    p = Path(path)
    p.parent.mkdir(parents=True, exist_ok=True)
    tmp = p.with_name(f".{p.name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "xb" if binary else "x") as f:
            write(f)
        os.replace(tmp, p)
    except BaseException:
        tmp.unlink(missing_ok=True)
        raise
