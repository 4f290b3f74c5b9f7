"""Prompt release of the JVM objects behind dropped Python proxies.

py4j caches every Java method called through a proxy on the proxy
itself (``JavaObject._methods`` holds ``JavaMember`` objects whose
``container`` is the proxy). So each DataFrame, Column or plan handle an
operator has called into becomes a reference cycle once it is dropped.
CPython frees a cycle only when it collects the generation holding it.
Frames that lived through a multi-job operator reach the oldest
generation, and a long-running driver collects that one rarely. Until
then the JVM keeps everything the proxy pins: the Dataset, its executed
plan, and the shuffle, broadcast and checkpoint state that Spark's
cleaner would otherwise release. That is several MB per operator on a
small batch, released at some unrelated later point.

``releases_proxies`` runs one full collection when a multi-job operator
returns. Its dropped proxies are then queued for py4j's finalizer
thread, which tells the JVM within its one-second poll. A full
collection costs tens of ms, so it goes only on operators that run
several Spark jobs (a sync tick, a curation pass), never on a
single-query path such as a kNN search.
"""

from __future__ import annotations

import functools
import gc
from typing import Callable, TypeVar

Fn = TypeVar("Fn", bound=Callable)


def releases_proxies(fn: Fn) -> Fn:
    """Decorate a multi-job operator: after ``fn`` returns or raises,
    collect the cycles its dropped proxies form (module docstring)."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        finally:
            gc.collect()

    return wrapper  # type: ignore[return-value]
