"""Process-lifetime memoized temp dirs for fixture-writing queries.

Registered queries build on-disk fixtures (a streaming landing dir, an
evolved-schema dir, a partitioned/bucketed/z-ordered layout, a sink
output) as part of their contract. The fixtures are deterministic per
``sf_dir`` (or per (kind, sf_dir) key), so :func:`memo_tmpdir` is the one
place that makes their directories: the first call creates and populates
one, later calls in the process reuse it, and no selfcheck or plan sweep
leaks a fresh /tmp directory per query per pass. Queries whose write IS
the behavior under test (sink_roundtrip, layout writes) still re-write
every invocation — into the SAME directory with mode("overwrite") — so the
end-to-end write path stays exercised without directory churn.

Corpus dirs are immutable in this harness; a production deployment would
key the memo by snapshot id.
"""

from __future__ import annotations

import tempfile

_DIR_MEMO: dict[tuple[str, ...], str] = {}


def memo_tmpdir(kind: str, *key: str, populate=None) -> tuple[str, bool]:
    """Return ``(path, created)`` for the process-lifetime temp dir memoized
    under ``(kind, *key)``.

    Fixture-building callers pass ``populate`` (a callable taking the fresh
    path); the memo entry is committed ONLY after it returns — r7 ADVICE: the
    old "return created=True, caller populates afterwards" protocol recorded
    the dir as built before population ran, so a partial failure (e.g. midway
    through stream_late_data's 3-batch build) left every later invocation in
    the process silently consuming the half-built fixture. On a populate
    error nothing is memoized; the next call starts over on a fresh dir (the
    orphaned dir is the acceptable cost of a failed build). Callers whose
    write IS the behavior under test still pass no ``populate`` and re-write
    into the memoized dir every invocation."""
    k = (kind, *key)
    if k in _DIR_MEMO:
        return _DIR_MEMO[k], False
    path = tempfile.mkdtemp(prefix=f"{kind}_")
    if populate is not None:
        populate(path)
    _DIR_MEMO[k] = path
    return path, True
