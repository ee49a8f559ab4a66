"""Build-once staging of derived tables and indexes under the temp dir.

A staged dir is named by a fingerprint of its source table (path,
mtime, size), so a regenerated corpus under the same path never serves
a stale build. ``stage_once`` builds the WHOLE dir in a fresh
``<dir>.staging-<uuid>`` scratch dir, writes the ``_staging_complete``
marker, then renames it into place. A run that died mid-build leaves
either a dir without the marker (discarded and rebuilt) or an orphaned
scratch dir (unique name, harmless), never a half-built dir that a
later run would trust.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import uuid

DONE_MARKER = "_staging_complete"


def fingerprint_dir(kind: str, sf_dir: str, table: str, *salt: str) -> tuple[str, str]:
    """(tag, dir) for the ``kind`` build over ``sf_dir``'s ``table``:
    the tag hashes the source file's fingerprint and any ``salt``."""
    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    key = "|".join((kind, sf_dir, str(st.st_mtime_ns), str(st.st_size), *salt))
    tag = hashlib.md5(key.encode()).hexdigest()[:12]
    return tag, os.path.join(tempfile.gettempdir(), f"rtba_{kind}_{tag}")


def stage_once(out_dir: str, tag: str, build) -> str:
    """Return ``out_dir``, first building it with ``build(scratch_dir)``
    unless a complete build is already in place."""
    done = os.path.join(out_dir, DONE_MARKER)
    if not os.path.exists(done):
        if os.path.exists(out_dir):
            shutil.rmtree(out_dir)
        stage = f"{out_dir}.staging-{uuid.uuid4().hex[:12]}"
        build(stage)
        with open(os.path.join(stage, DONE_MARKER), "w") as f:
            f.write(tag)
        try:
            os.rename(stage, out_dir)
        except OSError:
            # a concurrent stager renamed first; its build is complete
            shutil.rmtree(stage, ignore_errors=True)
            if not os.path.exists(done):
                raise
    return out_dir
