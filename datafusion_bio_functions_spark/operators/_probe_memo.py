"""One memo policy for every auto-knob probe.

Each auto-knob (bin width, chunk width, broadcast fit,
CollectLeft index, exact collapse, depth's alignment probe, ...) decides
from a bounded eager probe and memoizes the verdict per input plan, so
repeated builds over the same frames skip the job.  The policy lives here
once: the key is :func:`plan_key`, a key that cannot be computed means
"probe, do not memoize", each memo evicts its least recently used entry at
its size bound (driver-side growth stays bounded, and a frame hit on every
build outlives a stream of one-off inputs), and every memo registers itself
so :func:`clear_probe_caches` cannot miss one.
"""

from __future__ import annotations

import weakref
from typing import Any, Callable

from pyspark.sql import DataFrame

#: every live ProbeMemo, by id (weak: a memo nobody holds drops out)
_REGISTRY: "weakref.WeakValueDictionary[int, ProbeMemo]" = weakref.WeakValueDictionary()


def plan_key(df: DataFrame):
    """Memo key for the bounded probes: semantic plan hash + a fingerprint
    of the scanned files (ADVICE r4: semanticHash alone hashes the PLAN, so
    a path whose files are replaced mid-session would reuse a stale probe
    verdict).  ``inputFiles()`` is a driver-side listing — no Spark job.
    Residual assumption (documented): an in-place overwrite that keeps the
    exact same file names is NOT detected; call
    :func:`clear_probe_caches` after rewriting inputs in place."""
    h = df.semanticHash()  # raises on connect-mode frames; caller catches
    try:
        files = df.inputFiles()
        fp = hash(tuple(sorted(files))) if files else 0
    except Exception:
        fp = 0
    return (h, fp)


class ProbeMemo(dict):
    """A probe-verdict memo that registers itself for
    :func:`clear_probe_caches` on construction."""

    def __init__(self) -> None:
        super().__init__()
        _REGISTRY[id(self)] = self

    def get_or_probe(
        self, key_fn: Callable[[], Any], probe: Callable[[], Any], bound: int = 1024
    ) -> Any:
        """The memoized verdict for ``key_fn()``, else ``probe()`` stored
        under it.  A ``key_fn`` that raises (``semanticHash`` is unavailable
        on connect-mode frames) runs the probe with no memo.  A hit becomes
        the most recently used entry; at ``bound`` entries the least
        recently used one is evicted before the new one is stored.  Memos
        whose entries are large (broadcast indexes) pass a small bound."""
        try:
            key = key_fn()
        except Exception:
            return probe()
        if key in self:
            value = self[key] = self.pop(key)  # re-insert: dicts keep insertion order
            return value
        value = probe()
        if len(self) >= bound:
            del self[next(iter(self))]  # the first key is the least recently used
        self[key] = value
        return value


def clear_probe_caches() -> None:
    """Drop every memoized probe verdict: every :class:`ProbeMemo` in the
    registry is emptied.  Call after overwriting input files in place —
    the memo keys fingerprint the file LISTING, not file contents."""
    for memo in list(_REGISTRY.values()):
        memo.clear()
