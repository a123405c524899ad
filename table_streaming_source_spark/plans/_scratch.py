"""Self-cleaning, process-isolated scratch space for fixture
materialization (ADVICE round 3: per-call ``mkdtemp`` dirs and
hash-randomized metastore table names accumulated orphans across runs;
round-4 review: fully deterministic shared paths would let concurrent
runs wipe each other's live fixtures).

Layout: ``$TMPDIR/tsss_scratch_<uid>/<pid>/<kind>_<digest>``.

* **Process isolation.**  The ``<pid>`` component means two concurrent
  runs (bench alongside the oracle gate, parallel CI shards) can never
  resolve each other's directories — ``fresh=True`` wipes only this
  process's copy, and a second SparkSession in the same process shares
  the same deterministic leaf (in-process caches key on the session, so
  a cache miss overwrites in place, never racing a live read in another
  process).
* **Deterministic leaves.**  Within the process, a scratch path is a
  pure function of ``(kind, key)`` — repeated fixture builds overwrite
  in place instead of accumulating.
* **Stale sweep + atexit.**  Everything under ``<pid>`` is removed at
  interpreter exit; on first use the module also sweeps sibling
  ``<pid>`` dirs whose owning process is dead (``kill -9`` leftovers),
  so accumulation is bounded at one tree per *live* process, not one
  per historical run.
"""

from __future__ import annotations

import atexit
import hashlib
import logging
import os
import shutil
import tempfile

log = logging.getLogger(__name__)

_TABLES: list[tuple[object, str]] = []
_SWEPT = False


def _root() -> str:
    return os.path.join(
        tempfile.gettempdir(), f"tsss_scratch_{os.getuid()}"
    )


def _proc_root() -> str:
    return os.path.join(_root(), str(os.getpid()))


def _sweep_dead_siblings() -> None:
    """Remove sibling process trees whose owning pid is no longer alive
    (leftovers from killed runs) — best-effort, once per process."""
    global _SWEPT
    if _SWEPT:
        return
    _SWEPT = True
    root = _root()
    try:
        entries = os.listdir(root)
    except OSError:
        return
    for name in entries:
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            os.kill(int(name), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
        except OSError:
            pass  # alive but not ours, or EPERM — leave it


def scratch_dir(kind: str, *key_parts: str, fresh: bool = False) -> str:
    """Return (and create) this process's deterministic scratch dir for
    ``(kind, key_parts)``.  ``fresh=True`` wipes prior content first —
    required for checkpoint/sink dirs that must start empty."""
    _sweep_dead_siblings()
    digest = hashlib.md5(
        "\x00".join(key_parts).encode("utf-8")
    ).hexdigest()[:12]
    path = os.path.join(_proc_root(), f"{kind}_{digest}")
    if fresh and os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def deterministic_tag(*key_parts: str) -> str:
    """Stable 8-hex tag for metastore table names, scoped per process:
    same fixture → same name within a run (never PYTHONHASHSEED-random),
    no cross-process collision on a shared metastore path."""
    return hashlib.md5(
        "\x00".join((str(os.getpid()), *key_parts)).encode("utf-8")
    ).hexdigest()[:8]


def register_table(spark, name: str) -> None:
    """Drop ``name`` at interpreter exit (best-effort)."""
    _TABLES.append((spark, name))


@atexit.register
def _cleanup() -> None:
    for spark, name in _TABLES:
        try:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
        except Exception as exc:
            log.warning("scratch cleanup: DROP TABLE %s failed: %r", name, exc)
    _TABLES.clear()
    shutil.rmtree(_proc_root(), ignore_errors=True)
