"""Versioned directory stores: the one owner of the publish protocol.

A store is a base directory of immutable version directories plus a
pointer file naming the one being served:

    base_path/
      v1/ ...  v2/ ...      version directories
      .build_1a2b3c4d/      staging directories (dot-prefixed)
      _current              one line naming the served version
      _publish_log          one `{version} {unix_ts}` line per publish

A writer fills a fresh `staging_dir` and hands it to `publish`, which
renames it to the next free `v{N}` and only then swaps the pointer
(fsync, then os.replace).  A reader `resolve`s the pointer ONCE per
query and reads only inside that version, so a publish never tears a
read, and a superseded version stays readable until `vacuum` prunes
it.

Used by the IVF-PQ serving store (operators/similarity.py) and the
cluster-label store (operators/dedup.py).  `build_once` is the other
promote path: it moves a whole store, built privately, into place with
one rename, for the registered queries that build their own.
"""

from __future__ import annotations

import os
import re
import shutil
import time
import uuid
from typing import Callable

_POINTER = "_current"
_PUBLISH_LOG = "_publish_log"
_VERSION = re.compile(r"v(\d+)")


def resolve(base_path: str) -> str:
    """The directory of the version the store at `base_path` serves.

    Raises a FileNotFoundError naming the store when it has no pointer
    (nothing was ever published there), and one naming the missing
    version when the pointer dangles (a corrupted or hand-edited
    store) -- never a confusing downstream parquet-path error."""
    try:
        with open(os.path.join(base_path, _POINTER)) as f:
            version = f.read().strip()
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no published store at {base_path}: no {_POINTER} pointer"
        ) from None
    vdir = os.path.join(base_path, version)
    if not os.path.isdir(vdir):
        raise FileNotFoundError(
            f"corrupt store at {base_path}: {_POINTER} points at "
            f"{version!r} but that version directory does not exist"
        )
    return vdir


def is_published(base_path: str) -> bool:
    """True once any version of the store has been published."""
    return os.path.exists(os.path.join(base_path, _POINTER))


def staging_dir(base_path: str, kind: str) -> str:
    """Create and return a private `.{kind}_{hex}` directory under
    base_path for a writer to fill.  The dot prefix keeps vacuum off a
    half-written next version."""
    path = os.path.join(base_path, f".{kind}_{uuid.uuid4().hex[:8]}")
    os.makedirs(path)
    return path


def publish(base_path: str, staged: str) -> str:
    """Promote `staged` to the next free version and point the store at
    it; returns the version name.

    The rename target skips every existing `v{N}`: an orphan left by a
    writer that crashed between its rename and its pointer write, or a
    version a concurrent writer promoted first (so two racing first
    builds publish identical v1 and v2 rather than discarding one).  A
    rename that fails for any other reason removes `staged` and
    re-raises, leaving the pointer untouched.  The pointer is written
    LAST -- a private temp file, fsync, os.replace -- so a reader sees
    the old pointer or the new one, never a torn write; then a
    `{version} {unix_ts}` line is appended to the publish log, the
    supersession history vacuum's lease reads."""
    n = 1 + max(
        (
            int(m.group(1))
            for m in map(_VERSION.fullmatch, os.listdir(base_path))
            if m
        ),
        default=0,
    )
    while True:
        target = os.path.join(base_path, f"v{n}")
        try:
            os.rename(staged, target)
            break
        except OSError:
            if not os.path.isdir(target):
                shutil.rmtree(staged, ignore_errors=True)
                raise
            n += 1
    version = f"v{n}"
    tmp = os.path.join(base_path, f".{_POINTER}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        f.write(version + "\n")
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(base_path, _POINTER))
    with open(os.path.join(base_path, _PUBLISH_LOG), "a") as f:
        f.write(f"{version} {time.time():.6f}\n")
    return version


def build_once(path: str, build: Callable[[str], None]) -> None:
    """Create the whole directory `path` at most once: unless it exists,
    `build` fills a private `{path}.build_{hex}` sibling, which one
    rename then moves into place, so a reader sees all of `path` or
    none of it.  A writer that loses the race to a concurrent one
    discards its copy; a failed build or any other failed rename
    removes the private copy and re-raises."""
    if os.path.exists(path):
        return
    staged = f"{path}.build_{uuid.uuid4().hex[:8]}"
    try:
        build(staged)
    except BaseException:
        shutil.rmtree(staged, ignore_errors=True)
        raise
    try:
        os.rename(staged, path)
    except OSError:
        shutil.rmtree(staged, ignore_errors=True)
        if not os.path.isdir(path):
            raise


def read_publish_log(base_path: str) -> list[tuple[str, float]]:
    """(version, publish_ts) entries in append order; [] if no log."""
    out = []
    try:
        with open(os.path.join(base_path, _PUBLISH_LOG)) as f:
            for line in f:
                parts = line.split()
                if len(parts) == 2:
                    try:
                        out.append((parts[0], float(parts[1])))
                    except ValueError:
                        continue
    except OSError:
        return []
    return out


def vacuum(base_path: str, retain_sec: float = 0.0) -> list[str]:
    """Remove the `v{N}` directories the pointer no longer names;
    returns the removed paths.  Separate from `publish` so a reader
    pinned on a superseded version keeps its snapshot until this runs.

    Retention lease: a superseded version is skipped until it has been
    superseded for at least `retain_sec` seconds, measured from the
    first publish-log entry after its own last publish.  Readers
    resolve once per query, so `retain_sec` >= the longest query
    makes vacuum safe against pinned readers without coordination; the
    default 0.0 leaves that judgment to the caller.  A version never
    published (a crashed writer's orphan) has no lease and is always
    removable; a store without a log has no leases.  Staging directories are never touched."""
    current = os.path.basename(resolve(base_path))
    log = read_publish_log(base_path)
    now = time.time()

    def lease_expired(version: str) -> bool:
        if retain_sec <= 0 or not log:
            return True
        last_pub = max(
            (i for i, (v, _) in enumerate(log) if v == version),
            default=None,
        )
        if last_pub is None:
            return True
        superseded_at = min((ts for _, ts in log[last_pub + 1 :]), default=None)
        return superseded_at is None or now - superseded_at >= retain_sec

    removed = []
    for entry in sorted(os.listdir(base_path)):
        p = os.path.join(base_path, entry)
        if (
            _VERSION.fullmatch(entry)
            and entry != current
            and os.path.isdir(p)
            and lease_expired(entry)
        ):
            shutil.rmtree(p, ignore_errors=True)
            removed.append(p)
    return removed
