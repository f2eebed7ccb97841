"""Private scratch directories of this process.

Streaming drains, the stateful tracker's feed, the ORC round trip and the
bucketed tables write files that live only as long as the plan reading
them. Each gets a fresh ``tempfile.mkdtemp`` directory per prefix, so
nothing lands in the working directory or in a path another process
shares. Without bookkeeping a sf10 audit leaves O(events) of parquet
under /tmp PER QUERY PER INVOCATION: creating a new directory reaps the
previous one for the same prefix (the only live reference pattern —
callers build a fresh plan per invocation), and whatever remains is
removed at exit.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

_SCRATCH: dict[str, str] = {}


def scratch_dir(prefix: str) -> str:
    old = _SCRATCH.pop(prefix, None)
    if old:
        shutil.rmtree(old, ignore_errors=True)
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH[prefix] = d
    return d


@atexit.register
def _reap_scratch() -> None:
    for d in _SCRATCH.values():
        shutil.rmtree(d, ignore_errors=True)
    _SCRATCH.clear()
