"""The shared file-connector skeleton (fireworks_spark/connector.py and
publish.swap_dir): every directory writer replaces its previous output
on a rewrite and keeps it readable when a rewrite fails, and the Python
workers import the package whatever the driver's working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from fireworks_spark import edge_formats as ef
from fireworks_spark import io_formats as io
from fireworks_spark import sources as src

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SEQ = "ids string, sequences string"
_COO = "r long, c long, v double"

# writer name -> (schema of its input, write(df, path), read(spark, path))
WRITERS = {
    "phylip": (_SEQ, src.write_phylip, src.read_phylip),
    "clustal": (_SEQ, src.write_clustal, src.read_clustal),
    "stockholm": (_SEQ, src.write_stockholm, src.read_stockholm),
    "nexus": (_SEQ, src.write_nexus, src.read_nexus),
    "ig": (_SEQ, src.write_ig, src.read_ig),
    "phd": (_SEQ, src.write_phd, src.read_phd),
    "cif_seqres": (_SEQ, src.write_cif_seqres, src.read_cif_seqres),
    "pdb_seqres": (_SEQ, src.write_pdb_seqres, src.read_pdb_seqres),
    "nib": (_SEQ, src.write_nib, src.read_nib),
    "seqxml": (_SEQ, src.write_seqxml, src.read_seqxml),
    "uniprot_xml": (_SEQ, src.write_uniprot_xml, src.read_uniprot_xml),
    "twobit": (_SEQ, src.write_twobit, src.read_twobit),
    "feather": (_SEQ, io.write_feather, io.read_feather),
    "stata": (_SEQ, ef.write_stata, ef.read_stata),
    "pickle": (_SEQ, ef.write_pickle, ef.read_pickle),
    "excel": (_SEQ, ef.write_excel, ef.read_excel),
    "msgpack": (_SEQ, ef.write_msgpack, ef.read_msgpack),
    "html": (_SEQ, ef.write_html, ef.read_html_tables),
    "sparse": (
        _COO,
        # shape pinned, so the injected failure fires inside the write job
        # and not in write_sparse's shape aggregate
        lambda df, p: ef.write_sparse(df, p, "r", "c", "v", shape=(16, 16)),
        ef.read_sparse,
    ),
}


def _rows(schema, keys):
    if schema == _SEQ:
        return [(f"id{k}", "ACGT" * 3) for k in keys]
    return [(k, k, float(k)) for k in keys]


@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_writer_rewrite_replaces_and_failure_preserves(
    spark, tmp_path, writer
):
    """Each writer publishes write-then-swap: 2 rows then 1 row to the
    same path reads back 1 row (uuid-named parts appended into the old
    directory would read back 3), and a rewrite whose job fails after
    some of its tasks wrote their parts leaves the previous output
    readable and unchanged."""
    schema, write, read = WRITERS[writer]
    p = str(tmp_path / writer)
    two = spark.createDataFrame(_rows(schema, [1, 2]), schema)
    write(two.repartition(2), p)
    assert read(spark, p).count() == 2
    write(spark.createDataFrame(_rows(schema, [3]), schema), p)
    assert read(spark, p).count() == 1

    key, val = ("ids", "sequences") if schema == _SEQ else ("r", "v")
    rows = _rows(schema, [4, 5, 6, 7])
    bad = spark.createDataFrame(rows, schema).repartition(4)
    bad = bad.withColumn(
        val,
        F.when(F.col(key) == rows[0][0], F.raise_error(F.lit("injected")))
        .otherwise(F.col(val)),
    )
    with pytest.raises(Exception, match="injected"):
        write(bad, p)
    assert read(spark, p).count() == 1
    assert not [n for n in os.listdir(tmp_path) if n != writer]


def test_workers_import_package_from_any_cwd(tmp_path):
    """get_spark puts the package root on the workers' PYTHONPATH: a
    driver running outside the repo, with the repo only on its own
    sys.path, writes and reads nib, whose worker code refers to
    fireworks_spark helpers the workers must import."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from fireworks_spark.session import get_spark
        from fireworks_spark.sources import read_nib, write_nib

        spark = get_spark(master="local[1]", shuffle_partitions=1)
        df = spark.createDataFrame(
            [("s1", "ACGT"), ("s2", "ttgcaN")], "ids string, sequences string"
        )
        write_nib(df.repartition(2), "out")
        back = read_nib(spark, "out").collect()
        print(sorted((r.ids, r.sequences) for r in back))
        spark.stop()
        """
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p
        for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != REPO
    )
    env["SPARK_DRIVER_MEMORY"] = "1g"
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "local")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == (
        "[('s1', 'ACGT'), ('s2', 'ttgcaN')]"
    )
