"""Local-filesystem analog of S3 object versioning for the Forget phase.

The reference relies on S3 bucket versioning as its safety envelope
(reference: backend/ecs_tasks/delete_files/s3.py):

- ``verify_object_versions_integrity`` (s3.py:301-341): after PUTting the
  rewritten object, list versions and assert the version immediately
  before the new one is the version the task read — i.e. no concurrent
  writer slipped in between read and write;
- ``rollback_object_version`` (s3.py:344-357): delete the new version on
  an integrity conflict;
- ``delete_old_versions`` (s3.py:244-281): on success, purge all prior
  versions (sorted by LastModified — O3) so erased rows are not
  recoverable from history.

On a local/HDFS-style filesystem there is no native versioning, so the
analog keeps explicit version files in a ``.s3f2versions/<name>/`` dir
beside the object. These are the primitives under
``object_store.LocalObjectStore``, the engine's one local commit path
(the only caller of ``commit``):

- a *snapshot* ``(mtime_ns, size)`` captured before reading stands in for
  the source VersionId;
- the integrity check re-stats the object immediately before the atomic
  ``os.replace`` commit — a concurrent writer changes the snapshot and
  aborts the commit (strictly stronger than the reference, which can only
  detect the conflict after the overwrite and must roll back);
- the replaced content is hardlinked into the version store first
  (cheap, no copy), so history is restorable via ``restore_version``
  until ``purge_versions`` erases it.

Version ids sort lexicographically in time order: the store's are
``<mtime_ns:020d>-<size>-<digest>``; stores written before it owned
every local commit also hold 15-digit millisecond ids, which sort
first (they are older) and restore the same way.
"""

from __future__ import annotations

import os
import uuid


class VersionIntegrityError(RuntimeError):
    """A concurrent writer modified the object between read and commit.

    Parity: IntegrityCheckFailedError, s3.py:301-341 / main.py:243-262.
    """


def snapshot(local_path: str) -> tuple[int, int]:
    """The local stand-in for the source object's VersionId."""
    st = os.stat(local_path)
    return (st.st_mtime_ns, st.st_size)


def _store_dir(local_path: str) -> str:
    return os.path.join(
        os.path.dirname(local_path),
        ".s3f2versions",
        os.path.basename(local_path),
    )


def list_versions(local_path: str) -> list[str]:
    """Version ids of an object, oldest first (lexicographic = time order).

    Companion archives (``<vid>~<name>``, e.g. a CSE envelope sidecar)
    belong to their version and are not listed as versions themselves.
    """
    d = _store_dir(local_path)
    if not os.path.isdir(d):
        return []
    return sorted(n for n in os.listdir(d) if "~" not in n)


def version_path(local_path: str, version_id: str) -> str:
    return os.path.join(_store_dir(local_path), version_id)


def commit(
    local_path: str,
    tmp_path: str,
    source_snapshot: tuple[int, int],
    archive_as: str | None = None,
    companions: dict[str, str | None] | None = None,
) -> None:
    """Atomically replace ``local_path`` with ``tmp_path``.

    Verifies the object still matches ``source_snapshot`` (integrity
    check); with ``archive_as`` the replaced content is first hardlinked
    into the version store under that id, restorable via
    ``restore_version``. Raises ``VersionIntegrityError`` on conflict,
    leaving the object untouched (the caller removes ``tmp_path`` — the
    "rollback").

    ``companions`` maps sidecar target path -> tmp path with new content,
    or None when the new version has no such sidecar (e.g. the CSE
    envelope sidecar, whose S3 analog — object metadata — is PUT
    atomically with the object). Existing companions are archived with
    the content (as ``<id>~<name>``) and replaced (or removed)
    back-to-back with it, so a stored version always restores with the
    sidecar that decrypts it, and the new sidecar bytes are durable on
    disk BEFORE the content swap (no crash point loses the fresh data
    key).
    """
    if snapshot(local_path) != source_snapshot:
        raise VersionIntegrityError(
            f"Object {local_path} was modified by a concurrent writer "
            "between read and commit"
        )
    companions = companions or {}
    if archive_as is not None:
        d = _store_dir(local_path)
        os.makedirs(d, exist_ok=True)
        for target, name in [(local_path, archive_as)] + [
            (t, f"{archive_as}~{os.path.basename(t)}") for t in companions
        ]:
            # an id already archived names the same bytes (ids carry a
            # content digest): keep it, never clobber a distinct version
            archived = os.path.join(d, name)
            if os.path.exists(target) and not os.path.exists(archived):
                os.link(target, archived)
    os.replace(tmp_path, local_path)
    for target, new_tmp in companions.items():
        if new_tmp is not None:
            os.replace(new_tmp, target)
        elif os.path.exists(target):
            os.remove(target)


def purge_versions(local_path: str) -> int:
    """Delete all stored versions of the object (s3.py:244-281 analog).

    Companion archives purge with their versions; the count is versions.
    """
    d = _store_dir(local_path)
    n = 0
    if os.path.isdir(d):
        for name in sorted(os.listdir(d)):  # oldest first, O3
            os.remove(os.path.join(d, name))
            if "~" not in name:
                n += 1
        os.rmdir(d)
    return n


def restore_version(local_path: str, version_id: str | None = None) -> str:
    """Roll the object back to a stored version (newest by default).

    The replaced current content is NOT archived — this is the rollback
    path (s3.py:344-357 analog), not a normal write.
    """
    versions = list_versions(local_path)
    if not versions:
        raise FileNotFoundError(f"No stored versions for {local_path}")
    vid = version_id or versions[-1]
    src = version_path(local_path, vid)
    if not os.path.exists(src):
        raise FileNotFoundError(f"Version {vid} not found for {local_path}")
    tmp = local_path + f".restore-{uuid.uuid4().hex[:8]}"
    os.link(src, tmp)
    os.replace(tmp, local_path)
    os.remove(src)
    # restore the version's companion sidecars (e.g. the CSE envelope
    # that decrypts this ciphertext) together with the content
    d = _store_dir(local_path)
    prefix = f"{vid}~"
    for name in os.listdir(d) if os.path.isdir(d) else []:
        if name.startswith(prefix):
            target = os.path.join(
                os.path.dirname(local_path), name[len(prefix):]
            )
            ctmp = target + f".restore-{uuid.uuid4().hex[:8]}"
            os.link(os.path.join(d, name), ctmp)
            os.replace(ctmp, target)
            os.remove(os.path.join(d, name))
    return vid
