"""Directory publication: the two-rename swap and a manifest commit
protocol.

Every directory this engine re-publishes — the file-format connectors'
part directories (connector.write_parts), the sparse matrix directory
(edge_formats.write_sparse), the streaming rollup table
(streaming.maintain_rollup_table) and database.Table's rewrites — goes
through :func:`swap_dir`, a two-rename directory swap by default.
That is atomic against job failure but assumes RENAME SEMANTICS, which
object stores (S3/GCS/ABFS) do not have: their "rename" is copy+delete,
non-atomic and O(data). The sparse matrix and the rollup table also offer
the rename-free alternative below (``commit_protocol="manifest"``), the
same commit shape Iceberg/Delta use:

1. the writer materializes a new GENERATION of immutable data files under
   ``<path>/gen-<n>-<uuid>/`` — unique names, never overwritten;
2. it then publishes the generation with ONE object write: a
   ``_manifest-<n>-<uuid>.json`` in ``<path>`` listing exactly the files
   of that generation (single-object PUT is atomic on every object store;
   on a local filesystem the manifest is staged dot-hidden and renamed
   within the same directory, the one rename POSIX guarantees atomic);
3. readers list the manifests, pick the highest generation that PARSES,
   and trust only the files it names. A writer that died after step 1
   left data files but no manifest — invisible. A torn local manifest
   write fails JSON parsing — skipped, the previous generation serves.

Old generations are swept opportunistically on the next successful commit
(never the one just superseded AND still possibly being read — ``keep``
generations stay). Concurrent writers to one table must still be
serialized externally: generation numbers are assigned by list-then-put,
which two simultaneous writers could race (last manifest wins; no data is
corrupted — the loser's generation becomes unreferenced and is swept).

Reference parity note: the reference's TablePipe persists via SQLAlchemy
transactions (database.py); this module is the cluster/object-store face
of the same durability contract for file-backed artifacts.
"""

from __future__ import annotations

import collections
import glob
import json
import os
import re
import shutil
import time
import uuid


_MANIFEST_GLOB = "_manifest-*.json"

# Schemes with object-store PUT-visibility semantics (no atomic rename).
# Deliberately excludes file:// and hdfs://, which both provide atomic
# rename and must keep the scratch+rename torn-part guard.
_OBJECT_STORE_SCHEMES = frozenset(
    {"s3", "s3a", "s3n", "gs", "gcs", "abfs", "abfss",
     "wasb", "wasbs", "oss", "cos", "swift", "r2"}
)


def object_store_semantics(path: "str | None" = None) -> bool:
    """True when ``path`` should be treated with PUT-visibility semantics:
    a file becomes visible only once fully written (the object-store PUT
    contract) and rename is NOT assumed atomic (or available at all).

    Enabled by a URI scheme on the path (``s3://``, ``gs://``, ``abfs://``,
    ... — anything ``scheme://``) or globally by ``FIREWORKS_OBJECT_STORE=1``
    in the environment (the switch for an object-store *mount*, e.g.
    s3fs/gcsfuse, where the path looks POSIX but rename is copy+delete).

    Under these semantics every writer in this module and its callers goes
    rename-free: manifests are committed with one direct write (the PUT is
    the atomic commit point) and data parts are written straight to their
    final names (a killed writer's partial PUT never becomes visible, so
    the POSIX truncated-file hazard the scratch+rename dance guards against
    does not exist). On POSIX this mode is still safe — a torn direct
    manifest write is unparseable JSON, which readers skip — it just loses
    the hard no-partial-file guarantee for data parts, which only object
    stores provide natively.
    """
    if path:
        m = re.match(r"^([a-z][a-z0-9+.-]*)://", path)
        # Allowlist of schemes that actually carry PUT semantics. file://
        # has full POSIX atomic rename and hdfs:// has atomic rename too —
        # routing either through the direct-write branch would silently
        # drop the torn-part scratch+rename guard for filesystems that
        # need it (and this module opens paths with POSIX APIs anyway, so
        # only file:// could even have worked). An EXPLICIT scheme decides
        # either way: the env switch exists for scheme-LESS paths on
        # object-store mounts (s3fs/gcsfuse) and must not drag file:///
        # hdfs:// into the rename-free branch when it is set.
        if m:
            return m.group(1) in _OBJECT_STORE_SCHEMES
    return os.environ.get("FIREWORKS_OBJECT_STORE", "").lower() in (
        "1",
        "true",
        "yes",
    )


def swap_dir(path: str, stage) -> None:
    """Publish directory ``path`` by write-then-swap. ``stage(tmp)``
    fills a fresh sibling staging directory. When it returns the names
    its tasks reported publishing, :func:`settle_parts` checks them
    against what landed; a Spark-committed stage returns None. Then
    ``path`` is renamed aside, the staging directory renamed into its
    place, and the old copy removed; if the second rename fails, the old
    copy is renamed back.

    A rerun replaces the previous output and a failed stage leaves it
    untouched. The swap is not atomic against a hard crash between the
    two renames (readers then see no ``path``; the old data survives in
    a ``.old-*`` sibling) and gives no isolation between concurrent
    writers of one path. Stale ``.tmp-*`` / ``.old-*`` siblings of a
    crashed writer are swept on the next write."""
    base = glob.escape(path)
    for stale in glob.glob(base + ".tmp-*") + glob.glob(base + ".old-*"):
        shutil.rmtree(stale, ignore_errors=True)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    try:
        names = stage(tmp)
        if names is not None:
            settle_parts(tmp, names)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    moved = os.path.exists(path)
    if moved:
        os.rename(path, old)
    try:
        os.rename(tmp, path)
    except OSError:
        if moved:
            os.rename(old, path)  # rollback
        raise
    shutil.rmtree(old, ignore_errors=True)


def settle_parts(dirpath: str, names: list[str]) -> None:
    """The written-vs-reported check of a staged part directory.
    ``names`` are the files the successful task attempts reported. A
    name reported twice means two records claimed one file (duplicate
    record ids); a reported name that did not land means the executors
    wrote to a filesystem the driver does not see. Both raise. Files no
    task reported, left by failed, retried or speculative attempts, are
    deleted."""
    counts = collections.Counter(names)
    dup = sorted(n for n, c in counts.items() if c > 1)
    if dup:
        raise RuntimeError(
            f"part write: {len(dup)} file names were written by more than "
            f"one record (duplicate record ids?): {dup[:3]}"
        )
    present = set(os.listdir(dirpath))
    missing = sorted(counts.keys() - present)
    if missing:
        raise RuntimeError(
            f"part write: tasks reported {len(names)} files but "
            f"{len(missing)} are missing from {dirpath}, e.g. {missing[0]} "
            "— driver and executors do not share this filesystem"
        )
    for n in present - counts.keys():
        f = os.path.join(dirpath, n)
        if os.path.isdir(f):
            shutil.rmtree(f, ignore_errors=True)
        else:
            os.remove(f)


def _manifests(path: str) -> list[tuple[int, str]]:
    """(generation, manifest-path) pairs, unsorted, parse-safe (a manifest
    whose name doesn't parse is ignored)."""
    out = []
    for m in glob.glob(os.path.join(path, _MANIFEST_GLOB)):
        try:
            gen = int(os.path.basename(m).split("-")[1])
        except (IndexError, ValueError):
            continue
        out.append((gen, m))
    return out


def new_generation(path: str) -> tuple[int, str]:
    """Allocate the next generation: returns (gen, data_dir). The data dir
    is created; the generation stays INVISIBLE to readers until
    :func:`commit_generation` publishes its manifest."""
    os.makedirs(path, exist_ok=True)
    gens = [g for g, _ in _manifests(path)]
    gen = (max(gens) + 1) if gens else 1
    data_dir = os.path.join(path, f"gen-{gen:08d}-{uuid.uuid4().hex[:8]}")
    os.makedirs(data_dir)
    return gen, data_dir


def commit_generation(
    path: str, gen: int, data_dir: str, files: list[str], keep: int = 1
) -> None:
    """Publish generation ``gen``: one manifest write naming ``files``
    (paths relative to ``path``), then sweep generations older than the
    newest ``keep``. The manifest write is the commit point."""
    rel = [os.path.relpath(f, path) for f in files]
    doc = {"generation": gen, "data_dir": os.path.relpath(data_dir, path),
           "files": sorted(rel)}
    name = f"_manifest-{gen:08d}-{uuid.uuid4().hex[:8]}.json"
    if object_store_semantics(path):
        # RENAME-FREE commit: one direct write of the manifest object. On
        # an object store the PUT itself is the atomic visibility point (no
        # partial object is ever listable); on POSIX a writer killed
        # mid-write leaves a torn manifest that fails JSON parsing, which
        # current_files() skips — the previous generation keeps serving.
        with open(os.path.join(path, name), "w") as fh:
            json.dump(doc, fh)
            fh.flush()
            os.fsync(fh.fileno())
    else:
        staged = os.path.join(path, "." + name)
        with open(staged, "w") as fh:
            json.dump(doc, fh)
            fh.flush()
            os.fsync(fh.fileno())
        # same-directory rename of a single file: atomic on POSIX; this is
        # the ONLY rename in the protocol and exists purely to hide the
        # torn-write window on local filesystems — object-store paths take
        # the direct-PUT branch above and never rename.
        os.rename(staged, os.path.join(path, name))
    sweep_generations(path, keep=keep)


def current_files(path: str) -> list[str]:
    """Absolute paths of the newest committed generation's files; [] when
    no generation has ever committed. Torn/unparseable manifests are
    skipped (a crashed local writer's partial manifest must not shadow the
    previous good generation)."""
    best: dict | None = None
    for gen, m in sorted(_manifests(path)):
        try:
            with open(m) as fh:
                doc = json.load(fh)
        except (OSError, ValueError):
            continue
        if best is None or doc.get("generation", -1) >= best["generation"]:
            best = doc
    if best is None:
        return []
    return [os.path.join(path, f) for f in best["files"]]


def has_manifest(path: str) -> bool:
    return bool(os.path.isdir(path) and _manifests(path))


def sweep_generations(path: str, keep: int = 1) -> None:
    """Remove data dirs and manifests of all but the newest ``keep``
    committed generations, plus any UNCOMMITTED gen-* dir older than the
    newest committed one (a crashed writer's orphan), plus any aged
    dot-hidden staged manifest the committed history has caught up to (a
    writer that died between staging and renaming). The newest
    generation is never touched."""
    ms = sorted(_manifests(path))
    if not ms:
        return
    # Conservative: if the newest manifest does not parse (it always does
    # when called from commit_generation, which just wrote it; an external
    # caller might race a writer), sweep nothing — deleting data dirs
    # while unable to prove which one is live is the one unforgivable move.
    try:
        with open(ms[-1][1]) as fh:
            json.load(fh)
    except (OSError, ValueError):
        return
    live = ms[-keep:]
    live_gens = {g for g, _ in live}
    live_dirs = set()
    for _, m in live:
        try:
            with open(m) as fh:
                live_dirs.add(json.load(fh).get("data_dir"))
        except (OSError, ValueError):
            pass
    newest = ms[-1][0]
    for gen, m in ms:
        if gen not in live_gens:
            os.remove(m)
    for d in glob.glob(os.path.join(path, "gen-*")):
        base = os.path.basename(d)
        try:
            gen = int(base.split("-")[1])
        except (IndexError, ValueError):
            continue
        if base not in live_dirs and gen <= newest:
            shutil.rmtree(d, ignore_errors=True)
    # A writer that died BETWEEN staging and renaming its manifest leaks
    # the dot-hidden ._manifest-*.json forever (readers never see it, but
    # nothing else removes it). Sweep staged manifests for generations the
    # committed history has caught up to — with an age grace so a
    # concurrent writer's milliseconds-old staging (stage -> rename is one
    # commit_generation call) is never yanked mid-commit.
    # Two independent safety rails on the staged sweep: (a) only staged
    # manifests whose generation is STRICTLY below the newest committed
    # one — a writer that stalls between stage and rename still owns the
    # newest+1 (or a contended newest) generation, and yanking its staging
    # would make its commit_generation rename fail ENOENT; a staged
    # manifest for an already-superseded generation can never commit
    # usefully. (b) a wide mtime grace (10 min, not seconds) so GC pauses,
    # NFS latency or server-side mtime skew on a *current*-generation
    # writer can't be mistaken for death either.
    for s in glob.glob(os.path.join(path, "._manifest-*.json")):
        try:
            gen = int(os.path.basename(s).split("-")[1])
            aged = time.time() - os.path.getmtime(s) > 600
        except (IndexError, ValueError, OSError):
            continue
        if gen < newest and aged:
            try:
                os.remove(s)
            except OSError:
                pass
