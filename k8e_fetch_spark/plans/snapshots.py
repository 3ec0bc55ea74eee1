"""Transactional component tables: atomic, incremental op-insert-ignore
MERGE on plain parquet, safe under concurrent writers, no table-format
library required.

The reference's Compress stage merges with ``INSERT OR IGNORE`` into a
SQLite table (the reference's bin/fetcher.bash:157-159) — SQLite gives
it transactionality for free. The Spark-side ``insert_ignore``
(operators/dedup.py) reproduces the merge SEMANTICS, but appending
parquet files in place is not atomic: a failed job leaves partial files
that a concurrent reader sees as data. This module closes that gap
portably with the optimistic-concurrency (OCC) manifest table — the
version-number-as-CAS log Delta Lake uses on object stores and Iceberg
uses against its catalog:

- a table is a directory of data directories (``delta-*`` per merge,
  ``base-*`` per checkpoint) plus a chain of small JSON manifests
  ``manifest-<n>.json``, each naming every live data directory; an
  ``_OCC`` marker file identifies the directory as a table;
- a merge computes ``new ∖ current`` (the null-safe anti-join of
  operators/dedup.py:insert_ignore_delta) and writes ONLY that delta,
  under a writer-unique directory name — write volume is O(delta);
- the commit claims ``manifest-<n+1>`` atomically through the CAS seam
  (plans/cas.py): :class:`LinkCas` (default) hard-links a fully-written
  temp file, :class:`ConditionalPutCas` is the object-store
  ``If-None-Match`` PUT. A lost race recomputes the delta against the
  winner's table and retries; its abandoned delta is unreachable
  garbage, never corruption;
- the current state is the HIGHEST parseable manifest — the version
  chain itself is the commit log, so there is no pointer file to race
  or regress. Readers open only the directories the manifest names:
  zero LIST cost on the read path, and a delta whose writer died before
  its commit is never read;
- :func:`checkpoint` rewrites the live set into one base directory
  (optionally Z-ordered) to bound read amplification, and
  :func:`vacuum_manifest` removes what no kept manifest references once
  it is older than the retention window. Older manifests inside the
  keep window stay readable (:func:`read_manifest_table` ``version=``).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from k8e_fetch_spark.operators.dedup import insert_ignore_delta
from k8e_fetch_spark.plans.cas import (  # noqa: F401  (re-export: public API)
    DEFAULT_CAS,
    CasBackend,
    ConditionalPutCas,
    LinkCas,
    ManifestConflictError,
)

_OCC_MARKER = "_OCC"

# Default vacuum retention (see vacuum_manifest): an unreferenced dir
# younger than this is presumed to be a concurrent writer's in-flight
# delta, not garbage. Delta Lake defaults to 7 days; one day is generous
# for a merge attempt's write-to-CAS gap while keeping local test
# garbage collectable by backdating mtimes.
OCC_VACUUM_RETAIN_SECONDS = 24 * 3600.0


def _version(manifest_name: str) -> int:
    return int(manifest_name.split("-")[1].split(".")[0])


def _manifest_files(table_dir: Path) -> list[Path]:
    return sorted(
        p for p in table_dir.iterdir() if p.is_file() and p.name.startswith("manifest-")
    )


def _parses(manifest: Path) -> bool:
    try:
        json.loads(manifest.read_text())["dirs"]
    except Exception:
        return False
    return True


def current_manifest(table_dir: str | Path) -> str | None:
    """Name of the live manifest — the highest-numbered one that
    parses — or None for an empty table. Under link-CAS every manifest
    is complete, so the parse guard only matters for hand-damaged
    tables."""
    table_dir = Path(table_dir)
    if not table_dir.is_dir():
        return None
    for p in reversed(_manifest_files(table_dir)):
        if _parses(p):
            return p.name
    return None


def _manifest_dirs(table_dir: Path, manifest_name: str) -> list[str]:
    return json.loads((table_dir / manifest_name).read_text())["dirs"]


def manifest_versions(table_dir: str | Path) -> list[int]:
    """Version numbers of every parseable manifest still on disk,
    ascending — the time-travel window (``vacuum_manifest``'s ``keep``
    bounds it)."""
    return [_version(p.name) for p in _manifest_files(Path(table_dir)) if _parses(p)]


def read_manifest_table(
    spark: SparkSession, table_dir: str | Path, version: int | None = None
) -> DataFrame | None:
    """DataFrame over the union of the live manifest's data dirs (None
    when empty). Readers list NOTHING — the manifest names every live
    directory, so object-store LIST cost is zero on the read path (the
    property Iceberg/Delta buy with the same structure).

    ``version`` time-travels to a historical manifest still inside the
    vacuum keep-window (``manifest_versions`` lists what is readable;
    vacuumed versions raise FileNotFoundError)."""
    table_dir = Path(table_dir)
    if version is not None:
        name: str | None = f"manifest-{version:06d}.json"
        if not (table_dir / name).exists():
            raise FileNotFoundError(
                f"{name} not on disk in {table_dir} (vacuumed or never "
                f"committed); readable versions: {manifest_versions(table_dir)}"
            )
    else:
        name = current_manifest(table_dir)
    if name is None:
        return None
    dirs = _manifest_dirs(table_dir, name)
    return spark.read.parquet(*[str(table_dir / d) for d in dirs])


def _writer_suffix() -> str:
    # concurrent writers never share a data path
    return f"{os.getpid()}{os.urandom(3).hex()}"


def _commit_manifest_cas(
    table_dir: Path,
    manifest_name: str,
    payload: str,
    cas: CasBackend | None = None,
) -> None:
    """Atomically claim ``manifest_name`` through the CAS seam
    (plans/cas.py). Default :class:`LinkCas` is the hard-link claim;
    :class:`ConditionalPutCas` commits through an object store's
    ``If-None-Match`` PUT. Either way the claim wins exactly once — a
    taken version raises :class:`ManifestConflictError`."""
    (cas or DEFAULT_CAS).claim(Path(table_dir), manifest_name, payload)


def merge_insert_ignore_occ(
    spark: SparkSession,
    table_dir: str | Path,
    new: DataFrame,
    *,
    max_retries: int = 3,
    cas: CasBackend | None = None,
) -> str:
    """op-insert-ignore MERGE safe under CONCURRENT writers. Each
    attempt reads the current table, computes ``new ∖ current``
    (operators/dedup.py:insert_ignore_delta — one keyed anti-join
    shuffle, broadcastable when the batch is small), writes that delta
    under a writer-unique directory name, and tries to claim the next
    manifest version; a lost race recomputes against the winner's table
    and retries (the recompute is required for correctness — the winner
    may have inserted some of this batch's rows). Returns the published
    manifest name. Raises :class:`ManifestConflictError` after
    ``max_retries`` lost races.

    Idempotent: a fully-contained batch produces an empty delta,
    publishes nothing and returns the current name, so retries cannot
    grow the table or the manifest chain. Scale contract: merges are
    O(delta) writes, reads are O(live dirs) opens — bound the latter
    with :func:`checkpoint` every K merges."""
    table_dir = Path(table_dir)
    table_dir.mkdir(parents=True, exist_ok=True)
    marker = table_dir / _OCC_MARKER
    if not marker.exists():
        if (table_dir / "_CURRENT_MANIFEST").exists():
            # a legacy single-writer pointer table: adopting OCC would
            # switch resolution to max-valid-manifest, which can
            # resurrect a crash-orphan COMPLETE manifest the pointer
            # considered garbage. Migration must be explicit.
            raise ValueError(
                f"{table_dir} is a pointer table (_CURRENT_MANIFEST): "
                "migrate explicitly before using merge_insert_ignore_occ"
            )
        marker.write_text("")
    last_err: Exception | None = None
    for _ in range(max_retries):
        cur_name = current_manifest(table_dir)
        if cur_name is None:
            delta = new.distinct()
            live: list[str] = []
            next_id = 1
        else:
            delta = insert_ignore_delta(read_manifest_table(spark, table_dir), new)
            live = _manifest_dirs(table_dir, cur_name)
            next_id = _version(cur_name) + 1
        delta_name = f"delta-{next_id:06d}-{_writer_suffix()}"
        delta.write.mode("overwrite").parquet(str(table_dir / delta_name))
        # an empty delta publishes nothing; the emptiness probe reads the
        # WRITTEN parquet (one footer), not the plan (no recompute)
        if cur_name is not None and spark.read.parquet(
            str(table_dir / delta_name)
        ).limit(1).count() == 0:
            shutil.rmtree(table_dir / delta_name, ignore_errors=True)
            return cur_name
        manifest_name = f"manifest-{next_id:06d}.json"
        try:
            _commit_manifest_cas(
                table_dir,
                manifest_name,
                json.dumps({"dirs": [*live, delta_name]}),
                cas=cas,
            )
            return manifest_name
        except ManifestConflictError as e:
            # lost the race: our delta may be stale against the winner's
            # table — drop it (unreachable garbage anyway) and recompute
            shutil.rmtree(table_dir / delta_name, ignore_errors=True)
            last_err = e
    raise ManifestConflictError(
        f"gave up after {max_retries} lost commit races in {table_dir}"
    ) from last_err


def checkpoint(
    spark: SparkSession,
    table_dir: str | Path,
    n_files: int = 1,
    zorder_by: Sequence[str] | None = None,
    cas: CasBackend | None = None,
) -> str:
    """Rewrite the live set into ONE compacted base directory and
    commit a manifest referencing only it — the Iceberg
    rewrite-data-files maintenance action. Bounds read amplification
    (per-merge deltas accumulate one directory each) and restores scan
    locality. Coalesce-based (narrow, zero shuffle) like
    compact_small_files; the old dirs become garbage for
    :func:`vacuum_manifest`.

    ``zorder_by`` lays the compacted base out in Z-order on the given
    2-3 columns instead of plain coalesce — Delta's ``OPTIMIZE ...
    ZORDER BY`` as one maintenance action
    (operators/scale.py:write_zordered_auto — sampled range-id
    bucketing, so string/date keys work). Costs one range exchange
    where plain compaction is shuffle-free; content is unchanged.

    The commit goes through the same CAS as a merge: a concurrent merge
    claiming the same version surfaces as ManifestConflictError — re-run
    the maintenance action against the new current."""
    table_dir = Path(table_dir)
    cur_name = current_manifest(table_dir)
    if cur_name is None:
        raise ValueError(f"empty manifest table: {table_dir}")
    next_id = _version(cur_name) + 1
    base_name = f"base-{next_id:06d}-{_writer_suffix()}"
    df = read_manifest_table(spark, table_dir)
    if zorder_by:
        from k8e_fetch_spark.operators.scale import write_zordered_auto

        write_zordered_auto(df, str(table_dir / base_name), zorder_by, n_files=n_files)
    else:
        df.coalesce(n_files).write.mode("overwrite").parquet(str(table_dir / base_name))
    manifest_name = f"manifest-{next_id:06d}.json"
    try:
        _commit_manifest_cas(
            table_dir, manifest_name, json.dumps({"dirs": [base_name]}), cas=cas
        )
    except ManifestConflictError:
        shutil.rmtree(table_dir / base_name, ignore_errors=True)
        raise
    return manifest_name


def vacuum_manifest(
    table_dir: str | Path,
    keep: int = 1,
    retain_seconds: float = OCC_VACUUM_RETAIN_SECONDS,
) -> list[str]:
    """Remove data directories and manifests not reachable from the
    kept manifest set: the live manifest plus its ``keep - 1``
    parseable predecessors (time travel on the cheap). Unparseable
    manifests and deltas no kept manifest names are garbage. Returns
    the removed names.

    ``retain_seconds``: under concurrent writers an unreferenced delta
    dir is not necessarily garbage — it may be a concurrent merge's
    fully-written delta whose CAS commit has not landed yet — and a
    manifest above the live one may be a commit that won the race after
    this vacuum computed its keep set. Deleting either turns a committed
    transaction into an unreadable table. So only candidates whose mtime
    is older than the retention window are removed — Delta Lake's
    VACUUM retention, same reasoning. Pass ``retain_seconds=0.0`` only
    under exclusive access (no concurrent writers)."""
    table_dir = Path(table_dir)
    cutoff = time.time() - retain_seconds
    valid = [p.name for p in _manifest_files(table_dir) if _parses(p)]
    keep_manifests = set(valid[-keep:])
    keep_dirs: set[str] = set()
    for m in keep_manifests:
        keep_dirs.update(_manifest_dirs(table_dir, m))

    def _retained(p: Path) -> bool:
        # fresh candidates stay inside the retention window (in-flight
        # concurrent deltas / just-won commits); stat races with a
        # concurrent rmtree resolve to "retained" — never delete on doubt
        if retain_seconds <= 0:
            return False
        try:
            return p.stat().st_mtime >= cutoff
        except OSError:
            return True

    removed = []
    for p in sorted(table_dir.iterdir()):
        if p.is_dir() and p.name.startswith(("delta-", "base-")):
            if p.name not in keep_dirs and not _retained(p):
                shutil.rmtree(p, ignore_errors=True)
                removed.append(p.name)
        elif (
            p.is_file()
            and p.name.startswith("manifest-")
            and p.name not in keep_manifests
            and not _retained(p)
        ):
            p.unlink()
            removed.append(p.name)
    return removed
