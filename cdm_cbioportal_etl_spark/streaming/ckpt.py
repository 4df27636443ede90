"""Structured-Streaming checkpoint introspection (offsets cursor).

A bounded drain loop (``run_available`` with ``maxCommitsPerTrigger``)
needs a termination signal that means "the STREAM made no further
progress", not "my sink state didn't change": a drain whose admitted
commits all yield empty batches advances the stream's offset without
advancing the sink, and breaking on sink state alone would strand the
backlog beyond the admission window until the next call.

The robust cursor is the checkpoint itself: Structured Streaming writes
one ``offsets/<batchId>`` file per constructed micro-batch, containing
the source's end offset.  ``offsets_cursor`` returns an opaque string
identifying the latest batch id + its end offset — unchanged across a
drain means the query planned no new batch (caught up); changed means
real stream progress happened even if the sink saw nothing foldable.

Checkpoint locations may be plain paths or ``file:`` URIs (``local_path``
maps both to a local path, as the DataSource stream writer does for its
stream id).  Any other scheme cannot be listed from here: the cursor
then reads None, ``offsets_cursor`` warns, and ``drain`` falls back to
the query's own progress report to decide whether a pass moved the
stream.
"""

from __future__ import annotations

import os
import warnings
from typing import Any, Callable


def local_path(location: str) -> str:
    """The local filesystem path of a checkpoint location given as a
    plain path or a ``file:`` URI (``file:/x``, ``file:///x``)."""
    if location.startswith("file:"):
        from urllib.parse import urlparse
        from urllib.request import url2pathname

        return url2pathname(urlparse(location).path)
    return location


def _latest(checkpoint_dir: str, sub: str) -> tuple[str, str] | None:
    d = os.path.join(checkpoint_dir, sub)
    try:
        names = [n for n in os.listdir(d) if n.isdigit()]
    except OSError:
        return None
    if not names:
        return None
    latest = max(names, key=int)
    try:
        with open(os.path.join(d, latest)) as fh:
            return latest, fh.read()
    except OSError:
        return latest, ""


def offsets_cursor(checkpoint_dir: str) -> str | None:
    """Opaque progress cursor for a streaming checkpoint: latest
    ``offsets`` batch id + content AND latest ``commits`` batch id, or
    None before the first batch.  BOTH logs matter: re-finishing an
    uncommitted batch after a crash advances only ``commits`` (its
    ``offsets`` file already existed), while planning a new batch
    advances ``offsets`` — either one is progress, and a drain loop
    must continue past both before concluding it is caught up."""
    if "://" in checkpoint_dir and not checkpoint_dir.startswith("file:"):
        warnings.warn(
            f"checkpoint {checkpoint_dir!r} is not on the local filesystem: "
            "its progress cursor cannot be read, so a bounded drain judges "
            "progress from the query's progress report instead",
            RuntimeWarning,
            stacklevel=2,
        )
    checkpoint_dir = local_path(checkpoint_dir)
    off = _latest(checkpoint_dir, "offsets")
    com = _latest(checkpoint_dir, "commits")
    if off is None and com is None:
        return None
    o = f"{off[0]}:{off[1]}" if off else ""
    c = com[0] if com else ""
    return f"{o}|c:{c}"


def _pass_progressed(query: Any) -> bool:
    """True when a finished streaming pass ran a micro-batch that moved
    some source's offset (its ``recentProgress`` report)."""
    return any(
        src.endOffset is not None and src.endOffset != src.startOffset
        for p in query.recentProgress
        for src in p.sources
    )


def drain(start_pass: Callable[[], Any], checkpoint_dir: str) -> None:
    """Drain a stream to its head as a loop of single-batch passes.

    ``start_pass`` starts ONE Trigger.Once query on ``checkpoint_dir``.
    Trigger.Once, not availableNow: Spark's Python DataSource stream
    wrapper (PythonMicroBatchStream) does not implement
    SupportsTriggerAvailableNow, so availableNow would fall back to
    single-batch execution WITH a per-drain warning and an "uncommitted
    batch" caveat.  Once IS single-batch, declared honestly
    (warning-free); this loop supplies the drain-to-head semantics,
    including re-finishing an uncommitted batch left by a crash.

    The loop stops when a pass leaves the checkpoint's offsets cursor
    unchanged (no new micro-batch planned: caught up).  When the cursor
    is unreadable both before and after a pass (a non-local checkpoint),
    the pass's own progress report decides instead, so such a drain
    still reaches the head rather than stopping after one batch."""
    while True:
        before = offsets_cursor(checkpoint_dir)
        query = start_pass()
        query.awaitTermination()
        after = offsets_cursor(checkpoint_dir)
        if before is None and after is None:
            if not _pass_progressed(query):
                return
        elif after == before:
            return
