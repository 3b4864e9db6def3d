"""Pointer/marker state store — the small-file coordination seam.

Every piece of non-Spark coordination state in the engine goes
through this one interface:

- the streaming seen-uuid set's ``CURRENT`` version pointer
  (streaming/job.py),
- per-epoch stream commit markers (streaming/job.py),
- the user-table bucket swaps (users.py ``_merge_partitions``).

(Event collections keep no pointer: their state is the txn log's
O_EXCL commit files, txnlog.py.)

The reference keeps the equivalent state in MySQL/DynamoDB
(rakam-aws/.../kinesis checkpointing; MysqlMetastore); a Spark
cluster deployment swaps :class:`LocalFSStateStore` for an
object-store or DB implementation with the same five primitives —
nothing else in the engine touches ``os.rename``/``os.replace`` for
coordination.  The contract each primitive must keep:

- ``put`` is atomic: readers see the old value or the new value,
  never a torn write (local impl: temp file + ``os.replace``).
- ``touch`` creates an idempotent existence marker.
- ``swap_dir`` replaces a live directory with a staged one such
  that a crash at ANY point leaves the destination recoverable:
  either the old or the new contents, with :func:`recover_swaps`
  finishing or rolling back an interrupted swap on next access.
"""

from __future__ import annotations

import os
import shutil

# interrupted-swap staging prefix: leading dot so Spark's file
# listing ignores it (a visible `_bucket=3.old` sibling would be
# parsed as a hive partition value and corrupt reads)
OLD_PREFIX = ".old."


class LocalFSStateStore:
    """Local-filesystem implementation (single driver / shared POSIX
    FS).  All writes are atomic at the rename level."""

    # --- pointers ------------------------------------------------------

    def get(self, path: str) -> str | None:
        """Read a pointer value; None if the pointer doesn't exist."""
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return f.read().strip()

    def put(self, path: str, value: str) -> None:
        """Atomically write a pointer value (temp + rename)."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            f.write(value)
        os.replace(tmp, path)

    # --- markers -------------------------------------------------------

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def touch(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write("1")

    def delete(self, path: str) -> None:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)

    def listdir(self, path: str) -> list[str]:
        if not os.path.isdir(path):
            return []
        return sorted(os.listdir(path))

    # --- crash-safe directory swap --------------------------------------

    def swap_dir(self, src: str, dst: str) -> None:
        """Replace directory ``dst`` with ``src`` crash-safely:

        1. rename ``dst`` → hidden ``.old.<name>`` sibling,
        2. rename ``src`` into place,
        3. delete the ``.old`` sibling.

        A crash between 1 and 2 leaves the ``.old`` dir for
        :func:`recover_swaps` to roll back; after 2 the swap is
        effective and recovery rolls forward (deletes the leftover).
        ``dst`` absent (first write of this partition) degrades to a
        plain rename.  Never a window where the destination's data
        is lost."""
        old = self._old_name(dst)
        if os.path.exists(old):  # leftover from a previous crash
            self._recover_one(dst, old)
        if os.path.exists(dst):
            os.rename(dst, old)
        os.rename(src, dst)
        shutil.rmtree(old, ignore_errors=True)

    def recover_swaps(self, base: str) -> None:
        """Finish or roll back interrupted swaps under ``base``: for
        each hidden ``.old.<name>`` dir, if ``<name>`` exists the
        swap completed (delete the leftover); if not, the crash hit
        between the two renames (restore the old dir)."""
        if not os.path.isdir(base):
            return
        for entry in os.listdir(base):
            if not entry.startswith(OLD_PREFIX):
                continue
            dst = os.path.join(base, entry[len(OLD_PREFIX):])
            self._recover_one(dst, os.path.join(base, entry))

    def _old_name(self, dst: str) -> str:
        return os.path.join(os.path.dirname(dst), OLD_PREFIX + os.path.basename(dst))

    @staticmethod
    def _recover_one(dst: str, old: str) -> None:
        if os.path.exists(dst):
            shutil.rmtree(old, ignore_errors=True)  # swap completed
        else:
            os.rename(old, dst)  # swap interrupted: roll back


DEFAULT_STATE_STORE = LocalFSStateStore()
