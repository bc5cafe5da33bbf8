"""Session resources: one registry for what operators leave behind, one
memo for what they may reuse.

**Registry.** Operators and catalog entries return LAZY frames, so they
cannot free what those frames read (a persisted aggregate, a local
checkpoint, a tempdir holding a written table) — the consumer has not
run yet. Each such resource is registered with ``own`` / ``tempdir``
instead, and whoever knows the consumer has materialized calls
``release()`` (bench.py and tools/driver_sim.py between queries) or
wraps its work in ``scope()`` (releases only what was registered inside,
for callers sharing a session with other live queries). Without either
call the resources live for the session; tempdirs are removed at
interpreter exit. Releasing a persisted frame before its consumer runs
only costs a recompute; releasing a checkpoint or tempdir early breaks
the consumer, so only ever release after it materialized.

**Memo.** ``memo`` caches driver-side state derived from input files
(analyzed plans, footer schemas, key statistics, fitted centroids). An
entry is keyed on the application id, the session identity (sibling
``newSession()``s have their own confs and temp views, so one never
gets a frame bound to another) and the caller's key; the value carries
the ``st_mtime_ns`` of every input path, so a dataset rewritten in place
re-computes and REPLACES its entry rather than adding one. Past
``MEMO_CAP`` entries the memo is cleared outright: a rebuild costs
~100 ms, unbounded driver growth is the hazard.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from contextlib import contextmanager
from typing import Callable, TypeVar
from urllib.parse import unquote, urlparse

from pyspark.sql import SparkSession

X = TypeVar("X")

_OWNED: list = []
_MEMO: dict[tuple, tuple[tuple, object]] = {}
MEMO_CAP = 256


def own(x: X) -> X:
    """Register a persisted or checkpointed DataFrame; returns ``x``."""
    _OWNED.append(x)
    return x


def tempdir(prefix: str) -> str:
    """A fresh temp directory, removed by the next ``release()``."""
    return own(tempfile.mkdtemp(prefix=prefix))


def _free(x, blocking: bool) -> None:
    if isinstance(x, str):
        shutil.rmtree(x, ignore_errors=True)
    elif x.is_cached:
        x.unpersist(blocking=blocking)
    else:
        # a checkpoint: unpersist() does not reach its blocks, which
        # otherwise wait for a JVM GC to hand the RDD to the cleaner
        plan = x._jdf.queryExecution().analyzed()
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(blocking)


def free(x, blocking: bool = False) -> None:
    """Release one owned resource now, e.g. an iteration round its
    successor has superseded."""
    _OWNED[:] = [o for o in _OWNED if o is not x]
    _free(x, blocking)


def release(blocking: bool = False) -> int:
    """Release everything registered; returns how many resources that was."""
    n = len(_OWNED)
    while _OWNED:
        _free(_OWNED.pop(), blocking)
    return n


@contextmanager
def scope(blocking: bool = False):
    """On exit, release only what was registered inside the block.

    Spark's cache manager keys on the analyzed plan, so two scopes that
    persist plan-identical frames share one cache entry and either exit
    drops it for both (the survivor recomputes: correct, just slower)."""
    before = {id(o) for o in _OWNED}
    try:
        yield
    finally:
        mine = [o for o in _OWNED if id(o) not in before]
        _OWNED[:] = [o for o in _OWNED if id(o) in before]
        for o in mine:
            _free(o, blocking)


@atexit.register
def _remove_tempdirs() -> None:
    # blocks die with the JVM; only tempdirs outlive the interpreter
    for o in _OWNED:
        if isinstance(o, str):
            shutil.rmtree(o, ignore_errors=True)


def _local(path: str) -> str:
    return unquote(urlparse(path).path) if path.startswith("file:") else path


def memo(spark: SparkSession, paths: list[str], key: tuple, compute: Callable[[], X]) -> X:
    """``compute()``, memoized per (application, session, ``paths``,
    ``key``) and re-run whenever any of ``paths`` changed
    (``st_mtime_ns``). Inputs that cannot be stat-ed are never memoized."""
    try:
        stamp = tuple(os.stat(_local(p)).st_mtime_ns for p in paths)
        k = (spark.sparkContext.applicationId, id(spark), tuple(paths), *key)
    except Exception:
        return compute()
    hit = _MEMO.get(k)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    value = compute()
    if k not in _MEMO and len(_MEMO) >= MEMO_CAP:
        _MEMO.clear()
    _MEMO[k] = (stamp, value)
    return value
