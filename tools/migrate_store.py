"""Upgrade a serving store written before round 9 to the manifest layout.

    python3 tools/migrate_store.py PATH [PATH ...]

``ServingStore`` reads only its manifest and refuses to open a root that
still holds one of the older layouts (``LegacyStoreLayoutError``). Run
this once per such store, with no ingest loop or maintenance running on
it. For each PATH it:

1. recovers the two-rename compaction swap debris of pre-round-6 stores
   (``_compact_<b>`` / ``_old_<b>``), finishing or rolling back the swap
   so no batch is lost;
2. materialises symlinked ``RST_ID=<b>`` slots (round 6-8: links into
   hidden ``_data_*`` version directories) into plain partition
   directories;
3. sweeps the remaining ``_data_*`` / ``_gc_*`` version directories,
   displaced long ago;
4. adopts the tree as generation 1 through an empty ``manifest_txn``
   when it has no manifest yet.

Steps 1-3 hold the store's maintainer lease; a live maintainer makes the
tool fail for that PATH instead of racing it. Prints one JSON line per
PATH. Running it again on a migrated store changes nothing.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_streaming_kafka_bucket_counter_spark.sources import manifest  # noqa: E402
from spark_streaming_kafka_bucket_counter_spark.streaming.serving import RST_COL  # noqa: E402


def _remove_dir_or_link(path: Path) -> None:
    """Remove a partition slot: a symlink slot drops the link AND its
    versioned data dir; a real dir is rmtree'd (``shutil.rmtree``
    refuses symlinks)."""
    if path.is_symlink():
        target = path.parent / os.readlink(path)
        path.unlink(missing_ok=True)
        shutil.rmtree(target, ignore_errors=True)
    else:
        shutil.rmtree(path, ignore_errors=True)


def recover_compactions(root: Path) -> int:
    """Finish or roll back compaction swaps a crash interrupted. The
    pre-round-6 compactor swapped with two renames (``part -> _old_<b>``
    then ``_compact_<b> -> part``); a crash between them leaves the
    batch only under ``_old_<b>``, which readers skip as hidden. An
    orphaned ``_compact_<b>`` whose live partition is missing is
    promoted (the compacted data is complete, the swap just didn't
    finish); a leftover ``_old_<b>`` is restored when the live
    partition is gone and discarded when it exists. Returns entries
    handled."""
    n = 0
    for tmp in sorted(root.glob("_compact_*")):
        part = root / f"{RST_COL}={tmp.name[len('_compact_'):]}"
        if not part.exists():
            tmp.rename(part)  # crash between the two renames: finish
        else:
            # crash before the first rename: the live partition is
            # intact, the staged rewrite is redundant
            _remove_dir_or_link(tmp)
        n += 1
    for bak in sorted(root.glob("_old_*")):
        part = root / f"{RST_COL}={bak.name[len('_old_'):]}"
        if part.exists():
            # swap finished: drop the backup (and, when the backup is a
            # displaced symlink, its versioned data dir)
            _remove_dir_or_link(bak)
        else:
            bak.rename(part)  # compacted copy lost: restore original
        n += 1
    return n


def materialize_symlinks(root: Path) -> tuple[int, int]:
    """Move each ``RST_ID=<b>`` symlink's hidden version dir into its
    slot, then sweep the remaining ``_data_*`` / ``_gc_*`` version dirs.
    The relative paths of the partition files do not change, so a
    manifest that already lists them stays valid. Returns (slots
    materialised, dirs swept)."""
    moved = swept = 0
    for p in sorted(root.iterdir()):
        if p.is_symlink() and p.name.startswith(f"{RST_COL}="):
            try:
                target = p.resolve()
                p.unlink()
                target.rename(p)
            except OSError:
                continue  # per-entry tolerance: a dangling link stays
            moved += 1
    for p in sorted(root.iterdir()):
        if (
            p.is_dir()
            and not p.is_symlink()
            and p.name.startswith(("_data_", "_gc_"))
        ):
            shutil.rmtree(p, ignore_errors=True)
            swept += 1
    return moved, swept


def migrate_store(root: str | Path) -> dict:
    """Run the upgrade on one store root; returns what it did."""
    rootp = Path(root)
    if not rootp.is_dir():
        raise FileNotFoundError(f"no store directory at {rootp}")
    with manifest._maintainer_lease(rootp):
        recovered = recover_compactions(rootp)
        moved, swept = materialize_symlinks(rootp)
    adopted = manifest.latest_manifest(rootp) is None
    if adopted:
        with manifest.manifest_txn(rootp):
            pass  # the pre-scan becomes generation 1's live set
    m = manifest.latest_manifest(rootp)
    return {
        "path": str(rootp), "recovered": recovered, "materialized": moved,
        "swept": swept, "adopted": adopted, "generation": m["generation"],
        "files": len(m["files"]),
    }


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    status = 0
    for path in argv:
        try:
            print(json.dumps(migrate_store(path)))
        except (OSError, manifest.ConcurrentMaintainerError) as exc:
            print(json.dumps({"path": path, "error": str(exc)}))
            status = 1
    return status


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
