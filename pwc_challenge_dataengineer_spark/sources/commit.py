"""The one commit primitive every table format in ``sources/`` and
``streaming/`` publishes through: manifests, metadata JSONs, timeline
files, ``_delta_log`` commits, offsets and registry files."""

from __future__ import annotations

import os


def write_atomic(path: str, data: str | bytes) -> None:
    """Write ``data`` to ``path`` through a sibling ``<path>.tmp`` that is
    then ``os.replace``d over ``path``.

    Guarantee: after a process crash at any point, ``path`` holds either
    its old content (or is still absent) or the complete new content —
    never a torn file. A crash may leave ``<path>.tmp`` behind; no
    reader's listing filter matches that name, and the next write to
    ``path`` overwrites it. Assumes a single writer per path; there is no
    fsync, so durability across power loss is not covered."""
    tmp = path + ".tmp"
    with open(tmp, "wb" if isinstance(data, bytes) else "w") as fh:
        fh.write(data)
    os.replace(tmp, path)
