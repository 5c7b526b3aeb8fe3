"""The file-connector skeleton every custom format shares (sources.py,
edge_formats.py, io_formats.py).

Formats Spark has no source or sink for are file-parallel connectors:
the file is the unit of parallelism on read, the partition (or the
record) on write. Three functions carry that skeleton, so each format
keeps only its parse, render and validation code:

- :func:`read_files` lists the input files (:func:`source_files`) and
  parses them one Spark task per file; the driver never touches data.
- :func:`write_parts` renders each partition into files of a staging
  directory; every file is written under a dot-prefixed per-attempt
  scratch name and renamed into place only when complete, and each task
  reports the names it published.
- :func:`fireworks_spark.publish.swap_dir` checks those names against
  what landed and swaps the staging directory into place: a rewrite
  replaces the previous output, a failed write leaves it readable.
"""

from __future__ import annotations

import contextlib
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

# The writers' part-name scheme: part-<pid>[-<batch>]-<attempt uuid>.<ext>.
# A name matching it exactly is one task attempt's output for that key; a
# user-named file that merely looks part-like (part-1-matrixA.npz) is not.
_PART_RE = re.compile(r"part-(\d{5}(?:-\d{4})?)-[0-9a-f]{32}\.\w+")


def source_files(
    path: str, label: str, exts: "tuple[str, ...] | None" = None
) -> "list[str]":
    """Sorted non-hidden files under ``path`` (or ``[path]`` for a file),
    optionally only those ending in ``exts``. Read-side retry/zombie
    dedup: a speculative or zombie task attempt that renames its part
    visible after the writer's check leaves two parts for one key;
    without the dedup every record of that partition is read twice. The
    first file per key is kept (any completed attempt holds identical
    content); files outside the part scheme are all kept."""
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, n)
            for n in os.listdir(path)
            if not n.startswith((".", "_"))
            and (exts is None or n.endswith(exts))
            and os.path.isfile(os.path.join(path, n))
        )
    else:
        files = [path]
    seen: set = set()
    kept = []
    for f in files:
        m = _PART_RE.fullmatch(os.path.basename(f))
        if m:
            if m.group(1) in seen:
                continue
            seen.add(m.group(1))
        kept.append(f)
    if not kept:
        raise FileNotFoundError(f"no {label} files under {path}")
    return kept


def read_files(
    spark: SparkSession,
    path: "str | list[str]",
    label: str,
    parse,
    schema,
    exts: "tuple[str, ...] | None" = None,
) -> DataFrame:
    """One Spark task per input file: ``parse(file)`` runs in the task
    and returns a pandas frame or an iterable of frames in ``schema``.
    ``path`` is a file, a directory (listed by :func:`source_files`) or
    an already-resolved list of files, e.g. after a driver-side schema
    probe of the first one."""
    if isinstance(path, str):
        files = source_files(path, label, exts)
    elif path:
        files = list(path)
    else:
        raise FileNotFoundError(f"no {label} files to read")

    def _read(batches):
        import pandas as pd

        for b in batches:
            for f in b["f"]:
                out = parse(f)
                if isinstance(out, pd.DataFrame):
                    yield out
                else:
                    yield from out

    paths = spark.createDataFrame([(f,) for f in files], "f string")
    return paths.repartition(len(files)).mapInPandas(_read, schema)


class PartSink:
    """Opens the files one write task publishes into a staging
    directory. Each file is rendered into a dot-prefixed per-attempt
    scratch name (readers skip dot files, and two attempts never share
    one open file) and renamed to its final name once complete, so a
    killed attempt never leaves a visible truncated file."""

    def __init__(self, dirpath: str, ext: str):
        from pyspark import TaskContext

        self.dirpath = dirpath
        self.ext = ext
        self.pid = TaskContext.get().partitionId()
        self.names: list = []

    @contextlib.contextmanager
    def open(self, name: "str | None" = None, text: bool = False):
        """Yield a file handle for ``name``, by default the partition's
        ``part-<pid>-<uuid>.<ext>``; one-file-per-record writers name
        the file after the record."""
        name = name or f"part-{self.pid:05d}-{uuid.uuid4().hex}.{self.ext}"
        scratch = os.path.join(self.dirpath, f".{uuid.uuid4().hex}.{name}")
        with open(
            scratch, "w" if text else "wb", encoding="utf-8" if text else None
        ) as fh:
            yield fh
        os.rename(scratch, os.path.join(self.dirpath, name))
        self.names.append(name)


def write_parts(df: DataFrame, path: str, ext: str, render) -> None:
    """Distributed write of ``df`` into directory ``path``. Each task
    with at least one row calls ``render(batches, part)``: ``batches``
    iterates the partition's non-empty pandas frames, and ``part`` is
    the task's :class:`PartSink` (``part.open()`` for a file). Tasks
    return the names they published, and
    :func:`fireworks_spark.publish.swap_dir` checks them and publishes
    the directory: a rerun replaces the previous output, a failed job
    leaves it untouched.

    Filesystem contract: tasks write into a staging directory the driver
    created, so ``path`` must be on a filesystem the driver and every
    executor share (always true on a local master). A reported file the
    driver cannot see fails the write loudly."""
    from fireworks_spark import publish

    def stage(tmp):
        def task(batches):
            import itertools

            import pandas as pd

            rows = (b for b in batches if len(b))
            first = next(rows, None)
            names = []
            if first is not None:
                part = PartSink(tmp, ext)
                render(itertools.chain([first], rows), part)
                names = part.names
            yield pd.DataFrame({"name": pd.Series(names, dtype=object)})

        out = df.mapInPandas(task, "name string").collect()
        return [r["name"] for r in out]

    publish.swap_dir(path, stage)
