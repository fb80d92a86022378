"""Pluggable commit backends shared by EVERY table-format writer in
this repo (MTable, Delta, Iceberg).

All three formats commit through the same two-operation protocol:

- ``put_if_absent(path, content)`` — atomically create ``path`` with
  the FULL ``content`` iff no object exists there (raises
  ``FileExistsError`` when the slot is taken). This is the version /
  metadata claim: Delta's ``N.json`` commit file, Iceberg's
  ``vN.metadata.json``, MTable's ``N.manifest.json``.
- ``put(path, content)`` — unconditional full-object write (last
  writer wins). Only used for ADVISORY state: MTable's ``_CURRENT``
  pointer, Iceberg's ``version-hint.text``. Correctness never depends
  on it — readers resolve by listing.

Two properties matter and both backends guarantee them:

1. **Exclusive**: exactly one concurrent claimant of a given path
   succeeds; every loser sees ``FileExistsError`` and replays against
   the winner's state.
2. **Full-or-absent**: a visible object always carries the complete
   content — no reader can observe a claimed-but-torn commit file
   (``PosixCommitBackend`` gets this from writing a temp file first
   and publishing via ``os.link``; an object store gets it from PUT
   atomicity).

:class:`PosixCommitBackend` is the default (local / shared-POSIX
filesystems). :class:`ConditionalPutCommitBackend` models an object
store's primitives — S3 ``If-None-Match: *`` / GCS
``ifGenerationMatch=0`` conditional PUT — proving the protocol needs
NO rename, NO hard link, NO ``O_EXCL``: a real S3/GCS backend
implements the same two methods against the store API. Swap the
process-wide default for a scope with the :func:`commit_backend`
context manager (tests re-run the writer race suites under the
conditional-put backend this way).
"""

import os
import tempfile
import threading
from contextlib import contextmanager


def _atomic_write(path: str, content: str) -> None:
    d = os.path.dirname(path) or "."
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".commit_")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(content)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


class PosixCommitBackend:
    """Default commit backend for local / shared-POSIX filesystems:
    the exclusive claim is an ``os.link`` from a fully-written temp
    file (fails on an existing target — and a crash between temp
    write and link leaves only an invisible temp, never a torn
    commit), the advisory pointer an atomic ``os.replace``."""

    def put_if_absent(self, path: str, content: str) -> None:
        d = os.path.dirname(path) or "."
        fd, tmp = tempfile.mkstemp(dir=d, prefix=".commit_")
        try:
            with os.fdopen(fd, "w") as f:
                f.write(content)
            os.link(tmp, path)  # raises FileExistsError when claimed
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    def put(self, path: str, content: str) -> None:
        _atomic_write(path, content)


class ConditionalPutCommitBackend:
    """Commit backend modeling an OBJECT STORE's primitives: no
    renames, no links — exclusivity comes from a conditional PUT
    (S3 ``If-None-Match: *`` / GCS ``ifGenerationMatch=0``), whose
    per-key atomicity is modeled here by a process-wide lock over
    plain writes. Swapping this in proves each format's commit
    protocol needs exactly TWO store operations — put-if-absent for
    the version claim, unconditional put for advisory pointers — and
    no POSIX primitive anywhere; a real S3/GCS backend implements
    the same two methods against the store API."""

    _lock = threading.Lock()

    def put_if_absent(self, path: str, content: str) -> None:
        with self._lock:
            if os.path.exists(path):
                raise FileExistsError(path)
            # full-object-or-nothing, like a real PUT: stage + replace
            # (the lock models the store's per-request atomicity; a
            # real backend gets this from the store itself)
            _atomic_write(path, content)

    def put(self, path: str, content: str) -> None:
        with self._lock:
            _atomic_write(path, content)


_active = PosixCommitBackend()


def get_commit_backend():
    """The process-wide backend every Delta/Iceberg commit routes
    through (MTable additionally takes a per-table override)."""
    return _active


@contextmanager
def commit_backend(backend):
    """Scoped swap — the writer race tests re-run under
    :class:`ConditionalPutCommitBackend` inside this."""
    global _active
    prev = _active
    _active = backend
    try:
        yield backend
    finally:
        _active = prev
