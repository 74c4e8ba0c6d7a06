"""Cross-invocation operator state, in one place: the bounded persist
window and the build registry behind every `last_*_metrics()` getter.
Operators return lazy frames, so whatever must outlive one call lives here,
behind one lock, instead of as module globals inside the operators."""

from __future__ import annotations

import collections
import threading
from typing import Any, Callable

from pyspark.sql import DataFrame

# Bounded FIFO of persisted frames. CacheManager holds strong references,
# so per-invocation persists would otherwise leak for the session's
# lifetime (a 50-query loop in one session accumulates two cache entries
# per call). Evicting the *previous* call's frames at plan-BUILD time was worse:
# building a second plan before executing the first stripped the first
# plan's persist (its pipeline then silently recomputed once per
# consumer). So the window keeps the last _WINDOW persisted frames live and
# unpersists the oldest beyond that: interleaved build-then-execute
# patterns — including concurrent threads — keep their persists as long as
# few enough further frames are persisted before execution; memory stays
# bounded either way.
_WINDOW = 8
_LOCK = threading.Lock()
_PERSISTED: collections.deque = collections.deque()

# kind -> recent (build_id, handle), newest last. A handle is an
# Observation or a {name: Accumulator} dict; the per-kind monotonic build
# id rides along as `invocation` in every report, so a caller can tell a
# stale report (newer run not executed, or its metrics node optimized
# away) from a fresh one.
_BUILDS: dict[str, collections.deque] = collections.defaultdict(
    lambda: collections.deque(maxlen=_WINDOW)
)


def persist_bounded(frame: DataFrame) -> DataFrame:
    """Persist `frame` and enqueue it in the bounded eviction window."""
    frame = frame.persist()
    with _LOCK:
        _PERSISTED.append(frame)
        while len(_PERSISTED) > _WINDOW:
            stale = _PERSISTED.popleft()
            try:
                stale.unpersist(blocking=False)
            except Exception:
                pass
    return frame


def register(kind: str, handle: Any) -> int:
    """Record `handle` as the newest build of `kind`; returns its build id."""
    with _LOCK:
        builds = _BUILDS[kind]
        build_id = builds[-1][0] + 1 if builds else 1
        builds.append((build_id, handle))
    return build_id


def latest(kind: str, read: Callable[[Any], dict | None]) -> dict:
    """Newest build of `kind` whose `read(handle)` gives a dict -> that
    dict plus `invocation` (the build id); RuntimeError if there is none."""
    with _LOCK:
        builds = list(_BUILDS[kind])
    for build_id, handle in reversed(builds):
        out = read(handle)
        if out is not None:
            return {**out, "invocation": build_id}
    # an accumulator build is reportable from the moment it exists; an
    # Observation only once its query has executed
    executed = "" if read is accumulator_values else "executed "
    raise RuntimeError(f"no {executed}{kind} invocation to report on")


def observation_metrics(obs) -> dict | None:
    """The Observation's metrics if they HAVE completed, else None. Never
    blocks: probes the JVM Observation's getOrEmpty. A query whose
    optimized plan ELIMINATES the metrics node (e.g. empty input folded
    away by PropagateEmptyRelation) never completes its observation."""
    jo = getattr(obs, "_jo", None)
    if jo is None:  # pragma: no cover - Connect: no non-blocking probe
        # say WHY, not a misleading "never executed"
        raise RuntimeError(
            "observation metrics cannot be probed non-blockingly on Spark"
            " Connect; use Observation.get on a handle you know has executed"
        )
    try:
        jmap = jo.getOrEmpty()
        if jmap.isEmpty():
            return None
        keys, out = jmap.keysIterator(), {}
        while keys.hasNext():
            k = keys.next()
            out[str(k)] = jmap.apply(k)
        return out
    except Exception:
        return None


def accumulator_values(accs: dict) -> dict:
    """Current totals of a {name: Accumulator} build. There is no
    completion probe, so a build that never executed reads as zeros."""
    return {name: acc.value for name, acc in accs.items()}
