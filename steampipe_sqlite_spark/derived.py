"""Build-once derived copies under the repo's ``.cache``.

Every on-disk copy the engine or its tools derive from an input (a
compacted fixture, a persisted ANN index, a scale replica, a probe
corpus) goes through this module, and nothing else decides these four
things:

1. Source identity (:func:`source_identity`): a plain file is keyed on its
   own size and mtime; a directory on the recursive ``(relpath, size,
   mtime_ns)`` listing, because a part file rewritten in place does not
   change the directory's own stat.
2. Naming (:func:`generation`): ``.cache/<kind>/<stem>-<key>``.  The stem
   names the family: the source's name and path hash plus any layout
   parameters (compaction's ``k``, a replica's ``x<REPS>``).  The key is
   the source's content identity only.  A regenerated source therefore
   gets a new generation of its own family, while another sf or another
   core count is another family and never counts as superseded.
3. Atomic publish (:func:`publish`): build into a tmp sibling, then
   ``os.rename`` it into place, so a dir that exists is complete.
   Concurrent builders may both build; exactly one rename wins and the
   loser drops its tmp dir.  ``parts`` names entries a complete dir
   holds, so a dir torn by hand is rebuilt.
4. Reclaim (:func:`reclaim`): a superseded generation of the family is
   tombstoned on first sighting and removed only once the tombstone is
   older than ``RECLAIM_GRACE_S``, because readers take no lock and a scan
   in flight over the old generation must be able to finish.  Serving a
   generation clears its own tombstone (a source reverted to earlier
   content resurrects that generation).  Tmp dirs whose builder process
   is gone are removed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import stat
import time
import uuid

ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache")
# Seconds a superseded generation stays on disk after it is tombstoned.
RECLAIM_GRACE_S = 600.0
_TOMBSTONE = "_superseded"  # leading "_": Spark and pyarrow skip it on read
_TMP = ".tmp-"


def source_identity(path: str) -> str:
    """Content key of ``path``: its own stat for a file, the recursive
    listing for a directory."""
    st = os.stat(path)  # a missing source raises
    h = hashlib.sha256()
    if not stat.S_ISDIR(st.st_mode):
        h.update(f"{st.st_size}|{st.st_mtime_ns}".encode())
        return h.hexdigest()[:12]
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            fp = os.path.join(root, f)
            try:
                s = os.stat(fp)
            except OSError:
                continue
            h.update(f"{os.path.relpath(fp, path)}|{s.st_size}|{s.st_mtime_ns};".encode())
    return h.hexdigest()[:12]


def generation(kind: str, source: str, *params: str) -> str:
    """``ROOT/<kind>/<stem>-<key>`` for the current content of ``source``."""
    src = os.path.abspath(source)
    family = hashlib.sha256(src.encode()).hexdigest()[:8]
    stem = "-".join([os.path.basename(src), *params, family])
    return os.path.join(ROOT, kind, f"{stem}-{source_identity(src)}")


def _complete(dest: str, parts: tuple[str, ...]) -> bool:
    return os.path.isdir(dest) and all(os.path.exists(os.path.join(dest, p)) for p in parts)


def _orphaned(tmp: str) -> bool:
    """True when the process that named ``tmp`` (``<dest>.tmp-<pid>-<id>``)
    no longer runs."""
    try:
        pid = int(tmp.rsplit(_TMP, 1)[1].split("-", 1)[0])
        os.kill(pid, 0)
    except (ValueError, ProcessLookupError):
        return True
    except PermissionError:
        return False  # alive, owned by another user
    return False


def publish(dest: str, build, parts: tuple[str, ...] = ()) -> str:
    """Make ``dest`` exist, complete, by calling ``build(tmp)`` on a fresh
    tmp sibling and renaming it into place.  A build that raises leaves
    nothing published; the next call builds again."""
    if _complete(dest, parts):
        return dest
    parent, base = os.path.split(dest)
    os.makedirs(parent, exist_ok=True)
    for entry in os.listdir(parent):
        if entry.startswith(base + _TMP) and _orphaned(entry):
            shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)
    if os.path.isdir(dest):  # torn by hand
        shutil.rmtree(dest, ignore_errors=True)
    tmp = f"{dest}{_TMP}{os.getpid()}-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    try:
        build(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, dest)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not _complete(dest, parts):  # not a lost race: a real failure
            raise
    return dest


def reclaim(dest: str) -> None:
    """Clear ``dest``'s tombstone; tombstone, and after the grace period
    remove, the other generations of its family; remove its family's
    orphaned tmp dirs."""
    try:
        os.remove(os.path.join(dest, _TOMBSTONE))
    except OSError:
        pass
    parent, base = os.path.split(dest)
    prefix = base.rsplit("-", 1)[0] + "-"
    for entry in os.listdir(parent):
        key = entry[len(prefix):].split(_TMP, 1)[0]
        if entry == base or not entry.startswith(prefix) or "-" in key:
            continue
        old = os.path.join(parent, entry)
        if _TMP in entry:
            if _orphaned(entry):
                shutil.rmtree(old, ignore_errors=True)
            continue
        tomb = os.path.join(old, _TOMBSTONE)
        try:
            age = time.time() - os.path.getmtime(tomb)
        except OSError:
            try:
                open(tomb, "w").close()  # first sighting: tombstone only
            except OSError:
                pass  # already reclaimed by another process
            continue
        if age >= RECLAIM_GRACE_S:
            shutil.rmtree(old, ignore_errors=True)


def ensure(kind: str, source: str, build, *params: str, parts: tuple[str, ...] = ()) -> str:
    """The current generation of ``source`` under ``kind``, built once by
    ``build(dir)``; superseded generations are reclaimed."""
    dest = publish(generation(kind, source, *params), build, parts)
    reclaim(dest)
    return dest
