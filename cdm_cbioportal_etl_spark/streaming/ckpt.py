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
then reads None and a drain loop stops after one micro-batch, so
``offsets_cursor`` warns instead of degrading silently.
"""

from __future__ import annotations

import os
import warnings


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
            "its progress cursor cannot be read, so a bounded drain stops "
            "after one micro-batch",
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
