"""FASTA source vs a plain-Python parse of a seeded multi-record file
(reference pipes_test.py:60-81 parity: wrapped sequence lines,
multi-word headers)."""

from __future__ import annotations

import os
import random

import pytest

from fireworks_spark.sources import read_fasta

N_RECORDS = 240


def _write_fasta(path, seed=7):
    """A seeded FASTA file: multi-word headers, sequences of 1-400 bases
    wrapped at 60 or 70 columns (a last line of any length)."""
    rng = random.Random(seed)
    words = ["putative", "kinase", "domain", "protein", "[Homo sapiens]"]
    with open(path, "w") as f:
        for i in range(N_RECORDS):
            extra = rng.sample(words, rng.randint(0, 4))
            header = " ".join([f"gene{i:04d}", *extra])
            n = rng.randint(1, 400)
            seq = "".join(rng.choice("ACGTN") for _ in range(n))
            width = rng.choice([60, 70])
            f.write(f">{header}\n")
            for j in range(0, n, width):
                f.write(seq[j : j + width] + "\n")


def _python_parse(path):
    recs = []
    with open(path) as f:
        header, seq = None, []
        for line in f:
            line = line.rstrip("\n")
            if line.startswith(">"):
                if header is not None:
                    recs.append((header, "".join(seq)))
                header, seq = line[1:], []
            else:
                seq.append(line.strip())
        if header is not None:
            recs.append((header, "".join(seq)))
    return recs


def test_fasta_matches_python_parse(spark, tmp_path):
    path = str(tmp_path / "genes.fa")
    _write_fasta(path)
    want = _python_parse(path)
    got = (
        read_fasta(spark, path)
        .select("ids", "names", "descriptions", "sequences", "dbxrefs")
        .collect()
    )
    assert len(got) == len(want) == N_RECORDS
    by_desc = {r.descriptions: r for r in got}
    for header, seq in (want[0], want[-1], want[100]):
        r = by_desc[header.strip()]
        assert r.sequences == seq
        assert r.ids == header.split()[0]
        assert r.names == r.ids
        assert r.dbxrefs == []
    # every record's sequence matches, not just spot checks
    want_map = {h.strip(): s for h, s in want}
    assert {r.descriptions: r.sequences for r in got} == want_map


def test_fasta_tiny_inline(spark, tmp_path):
    p = tmp_path / "mini.fa"
    p.write_text(">a desc one\nACGT\nTTGG\n>b\nNNN\n")
    rows = {r.ids: r for r in read_fasta(spark, str(p)).collect()}
    assert rows["a"].sequences == "ACGTTTGG"
    assert rows["a"].descriptions == "a desc one"
    assert rows["b"].sequences == "NNN"


def test_fastq_parse_with_at_sign_quality(spark, tmp_path):
    """FASTQ 4-line records, including '@' as the FIRST quality character —
    the case that breaks naive '@'-delimiter splitting (Phred 31 == '@')."""
    from fireworks_spark.sources import read_bioseq, read_fastq

    p = tmp_path / "t.fastq"
    p.write_text(
        "@r1 sample one\nACGT\n+\n@AB!\n"
        "@r2\nTTGGCC\n+r2\nIIIIII\n"
        "@r3 third\nAC\n+\n!~\n"
    )
    rows = {r.ids: r for r in read_fastq(spark, str(p)).collect()}
    assert set(rows) == {"r1", "r2", "r3"}
    assert rows["r1"].sequences == "ACGT"
    assert rows["r1"].qualities == "@AB!"
    assert rows["r1"].descriptions == "r1 sample one"
    assert rows["r2"].qualities == "IIIIII"
    assert rows["r3"].sequences == "AC" and rows["r3"].qualities == "!~"
    # dispatcher parity + unsupported formats raise
    assert read_bioseq(spark, str(p), "fastq").count() == 3
    import pytest as _pytest

    # the refusal must NAME the supported formats and the reason
    # (reference BioSeqPipe accepts any SeqIO filetype; ours documents
    # exactly which have distributed parses)
    # gck is proprietary (no public spec) — the one class that stays
    # refused permanently, so the probe can't be obsoleted by new formats
    with _pytest.raises(NotImplementedError) as ei:
        read_bioseq(spark, str(p), "gck")
    msg = str(ei.value)
    for fmt in ("fasta", "fasta-2line", "fastq", "qual", "pir", "genbank",
                "embl", "swiss", "tab", "ig", "phd", "nib", "seqxml",
                "twobit", "uniprot-xml", "cif-seqres"):
        assert fmt in msg
    assert "Bio.SeqIO" in msg


def test_fastq_ranged_matches_wholetext_adversarial(spark, tmp_path):
    """VERDICT r11 #3: byte-range splittable FASTQ. Adversarial fixture —
    every quality line STARTS with '@' (Phred 31) and record lengths vary,
    so both the '@'-delimiter trick and a naive resync would misparse.
    Parsed at a tiny chunk size (dozens of ranges, boundaries landing
    mid-record everywhere), the output must be row-identical to the
    wholetext parse."""
    from fireworks_spark.sources import read_fastq, read_fastq_ranged

    p = tmp_path / "adv.fastq"
    recs = []
    for i in range(500):
        n = 1 + (i * 7) % 60
        seq = ("ACGT" * 16)[:n]
        qual = "@" + ("@IJK!~" * 11)[: n - 1]  # starts with '@', len == seq
        recs.append(f"@r{i:04d} sample {i}\n{seq}\n+\n{qual}\n")
    p.write_text("".join(recs))

    whole = read_fastq(spark, str(p)).orderBy("ids").collect()
    ranged = (
        read_fastq_ranged(spark, [str(p)], chunk_bytes=997)
        .orderBy("ids")
        .collect()
    )
    assert len(whole) == 500
    assert [tuple(r) for r in ranged] == [tuple(r) for r in whole]


def test_fastq_large_file_splits(spark, tmp_path):
    """VERDICT r11 #3 done-criterion: one multi-hundred-MB FASTQ read via
    read_fastq's auto-dispatch produces >1 input partition and
    row-identical output to the wholetext path — the single-giant-file
    task-memory ceiling is gone."""
    import os

    from pyspark.sql import functions as F

    from fireworks_spark import sources as src

    p = tmp_path / "big.fastq"
    seq = "ACGTTTGGCCAA" * 10  # 120 chars
    qual = "@" + "I" * 119
    with open(p, "w") as fh:
        for i in range(1_200_000):
            fh.write(f"@read{i:07d} s\n{seq}\n+\n{qual}\n")
    size = os.path.getsize(p)
    assert size > src.FASTQ_SPLIT_BYTES  # multi-hundred-MB, auto-splits

    ranged = src.read_fastq(spark, str(p))  # auto: size > FASTQ_SPLIT_BYTES
    assert ranged.rdd.getNumPartitions() > 1
    agg_r = ranged.agg(
        F.count("*").alias("n"),
        F.count_distinct("ids").alias("d"),
        F.bit_xor(F.xxhash64("ids", "descriptions", "sequences",
                             "qualities")).alias("h"),
        F.sum(F.length("sequences")).alias("sl"),
    ).collect()[0]
    whole = src.read_fastq(spark, str(p), split_bytes=1 << 40)  # force whole
    agg_w = whole.agg(
        F.count("*").alias("n"),
        F.count_distinct("ids").alias("d"),
        F.bit_xor(F.xxhash64("ids", "descriptions", "sequences",
                             "qualities")).alias("h"),
        F.sum(F.length("sequences")).alias("sl"),
    ).collect()[0]
    assert agg_r.n == agg_w.n == 1_200_000
    assert tuple(agg_r) == tuple(agg_w)


def test_read_qual_and_pir(spark, tmp_path):
    from fireworks_spark.sources import read_bioseq

    q = tmp_path / "scores.qual"
    q.write_text(
        ">r1 sample one\n20 20 30\n40\n>r2\n10 11 12 13\n"
    )
    rows = {r.ids: r for r in read_bioseq(spark, str(q), "qual").collect()}
    assert set(rows) == {"r1", "r2"}
    assert rows["r1"].qualities == [20, 20, 30, 40]
    assert rows["r1"].descriptions == "r1 sample one"
    assert rows["r2"].qualities == [10, 11, 12, 13]

    p = tmp_path / "prot.pir"
    p.write_text(
        ">P1;CRAB_ANAPL\nALPHA CRYSTALLIN B CHAIN (ALPHA(B)-CRYSTALLIN).\n"
        "MDITIHNPLI RRPLFSWLAP SRIF*\n"
        ">F1;CRAB_BOVIN\nBovine fragment\nMDIAIHHPWI RRPF*\n"
    )
    rows = {r.ids: r for r in read_bioseq(spark, str(p), "pir").collect()}
    assert set(rows) == {"CRAB_ANAPL", "CRAB_BOVIN"}
    r1 = rows["CRAB_ANAPL"]
    assert r1.pir_types == "P1"
    assert r1.descriptions.startswith("ALPHA CRYSTALLIN")
    assert r1.sequences == "MDITIHNPLIRRPLFSWLAPSRIF"  # '*' stripped
    assert rows["CRAB_BOVIN"].pir_types == "F1"
    assert rows["CRAB_BOVIN"].sequences == "MDIAIHHPWIRRPF"


EMBL_FIXTURE = """ID   X56734; SV 1; linear; mRNA; STD; PLN; 1859 BP.
AC   X56734; S46826;
DE   Trifolium repens mRNA for non-cyanogenic beta-glucosidase,
DE   partial sequence.
KW   beta-glucosidase.
OS   Trifolium repens (white clover)
DR   MD5; 1e51ca3a5450c43524b9185c236cc5cc.
DR   Ensembl-Gn; ENSG00000139618.
SQ   Sequence 120 BP; 34 A; 28 C; 27 G; 31 T; 0 other;
     aaacaaacca aatatggatt ttattgtagc catatttgct ctgtttgtta ttagctcatt        60
     cacaattact tccacaaatg cagttgaagc ttctactctt cttgacatag gtaacctgag       120
//
ID   HE1000; SV 3; linear; DNA; STD; ROD; 24 BP.
AC   HE1000;
DE   Mini record.
SQ   Sequence 24 BP;
     acgtacgtac gtacgtacgt acgt        24
//
ID   NOVER;
AC   ;
DE   No-version record.
SQ   Sequence 4 BP;
     acgt        4
//
"""


def test_embl_parse(spark, tmp_path):
    """EMBL flat-file records via the same '\\n//' record delimiter as
    GenBank: ID entry name, accession.SV-precedence id, folded multi-line
    DE, DR dbxrefs (trailing period stripped), count-suffixed sequence
    lines reduced to letters."""
    from fireworks_spark.sources import read_bioseq, read_embl

    p = tmp_path / "t.embl"
    p.write_text(EMBL_FIXTURE)
    rows = {r.names: r for r in read_embl(spark, str(p)).collect()}
    assert set(rows) == {"X56734", "HE1000", "NOVER"}
    r1 = rows["X56734"]
    assert r1.ids == "X56734.1"
    assert r1.descriptions == (
        "Trifolium repens mRNA for non-cyanogenic beta-glucosidase, "
        "partial sequence."
    )
    assert r1.sequences.startswith("AAACAAACCAAATATGGATT")
    assert len(r1.sequences) == 120
    assert r1.dbxrefs == [
        "MD5; 1e51ca3a5450c43524b9185c236cc5cc",
        "Ensembl-Gn; ENSG00000139618",
    ]
    r2 = rows["HE1000"]
    assert r2.ids == "HE1000.3"
    assert r2.sequences == "ACGTACGTACGTACGTACGTACGT"
    assert r2.dbxrefs == []
    # no SV / empty AC falls back to the entry name
    assert rows["NOVER"].ids == "NOVER"
    assert read_bioseq(spark, str(p), "embl").count() == 3


SWISS_FIXTURE = """ID   001R_FRG3G              Reviewed;         256 AA.
AC   Q6GZX4; A1A2B3;
DT   28-JUN-2011, integrated into UniProtKB/Swiss-Prot.
DE   RecName: Full=Putative transcription factor 001R;
DE   Flags: Precursor;
GN   ORFNames=FV3-001R;
OS   Frog virus 3 (isolate Goorha) (FV-3).
DR   EMBL; AY548484; AAT09660.1; -; Genomic_DNA.
DR   RefSeq; YP_031579.1; NC_005946.1.
SQ   SEQUENCE   60 AA;  29735 MW;  B4840739BF7D4121 CRC64;
     MAFSAEDVLK EYDRRRRMEA LLLSLYYPND RKLLDYKEWS PPRVQVECPK APVEWNNPPS
//
ID   MINI_TEST               Unreviewed;        12 AA.
DE   Tiny record.
SQ   SEQUENCE   12 AA;  1000 MW;  0000000000000000 CRC64;
     MKVLAAGITG LI
//
"""


def test_swiss_parse(spark, tmp_path):
    """Swiss-Prot flat-text records via the shared '\\n//' record scan:
    entry name from ID, first AC accession as the id (entry-name fallback
    when AC is absent), folded DE lines, DR dbxrefs, letters-only
    uppercased sequence."""
    from fireworks_spark.sources import read_bioseq, read_swiss

    p = tmp_path / "t.dat"
    p.write_text(SWISS_FIXTURE)
    rows = {r.names: r for r in read_swiss(spark, str(p)).collect()}
    assert set(rows) == {"001R_FRG3G", "MINI_TEST"}
    r1 = rows["001R_FRG3G"]
    assert r1.ids == "Q6GZX4"  # first accession, not A1A2B3
    assert r1.descriptions == (
        "RecName: Full=Putative transcription factor 001R; "
        "Flags: Precursor;"
    )
    assert r1.sequences == (
        "MAFSAEDVLKEYDRRRRMEALLLSLYYPNDRKLLDYKEWSPPRVQVECPKAPVEWNNPPS"
    )
    assert r1.dbxrefs == [
        "EMBL; AY548484; AAT09660.1; -; Genomic_DNA",
        "RefSeq; YP_031579.1; NC_005946.1",
    ]
    r2 = rows["MINI_TEST"]
    assert r2.ids == "MINI_TEST"  # no AC line -> entry-name fallback
    assert r2.sequences == "MKVLAAGITGLI"
    assert r2.dbxrefs == []
    assert read_bioseq(spark, str(p), "swiss").count() == 2
    assert read_bioseq(spark, str(p), "uniprot").count() == 2


GENBANK_FIXTURE = """LOCUS       SCU49845     5028 bp    DNA             PLN       21-JUN-1999
DEFINITION  Saccharomyces cerevisiae TCP1-beta gene, partial cds, and Axl2p
            (AXL2) and Rev7p (REV7) genes, complete cds.
ACCESSION   U49845
VERSION     U49845.1  GI:1293613
DBLINK      BioProject: PRJNA9999
            BioSample: SAMN0012345
KEYWORDS    .
SOURCE      Saccharomyces cerevisiae (baker's yeast)
FEATURES             Location/Qualifiers
     source          1..5028
                     /organism="Saccharomyces cerevisiae"
ORIGIN
        1 gatcctccat atacaacggt atctccacct caggtttaga tctcaacaac ggaaccattg
       61 ccgacatgag acagttaggt atcgtcgaga gttacaagct aaaacgagca gtagtcagct
//
LOCUS       AB000001      24 bp    mRNA            ROD       01-JAN-2000
DEFINITION  Mus musculus mini record.
ACCESSION   AB000001
VERSION     AB000001.2
KEYWORDS    .
ORIGIN
        1 acgtacgtac gtacgtacgt acgt
//
"""


def test_genbank_parse(spark, tmp_path):
    """GenBank flat-file records via the '\\n//' record delimiter: LOCUS
    name, VERSION-precedence id, folded multi-line DEFINITION, DBLINK
    dbxrefs, and the ORIGIN block stripped to sequence letters — the
    fields SeqIO exposes (reference BioSeqPipe, pipes.py:37-44)."""
    from fireworks_spark.sources import read_bioseq, read_genbank

    p = tmp_path / "t.gb"
    p.write_text(GENBANK_FIXTURE)
    rows = {r.names: r for r in read_genbank(spark, str(p)).collect()}
    assert set(rows) == {"SCU49845", "AB000001"}
    r1 = rows["SCU49845"]
    assert r1.ids == "U49845.1"
    assert r1.descriptions == (
        "Saccharomyces cerevisiae TCP1-beta gene, partial cds, and Axl2p "
        "(AXL2) and Rev7p (REV7) genes, complete cds."
    )
    assert r1.sequences.startswith("GATCCTCCATATACAACGGT")
    assert len(r1.sequences) == 120
    assert r1.dbxrefs == ["BioProject: PRJNA9999", "BioSample: SAMN0012345"]
    r2 = rows["AB000001"]
    assert r2.ids == "AB000001.2"
    assert r2.sequences == "ACGTACGTACGTACGTACGTACGT"
    assert r2.dbxrefs == []
    assert read_bioseq(spark, str(p), "genbank").count() == 2


def test_tab_and_fasta_2line_dispatch(spark, tmp_path):
    """The two line-trivial SeqIO formats: tab (id<TAB>seq per line) and
    fasta-2line (strict 2-line records — a syntactic subset the fasta
    record scan parses identically)."""
    from fireworks_spark.sources import read_bioseq, read_tab

    p = tmp_path / "recs.tab"
    p.write_text("r1\tacgt\n\nr2\tTT gg\n")
    rows = {r.ids: r for r in read_tab(spark, str(p)).collect()}
    assert set(rows) == {"r1", "r2"}
    assert rows["r1"].sequences == "ACGT"
    assert rows["r2"].sequences == "TTGG"  # internal whitespace stripped
    assert rows["r1"].descriptions == "" and rows["r1"].dbxrefs == []
    assert read_bioseq(spark, str(p), "tab").count() == 2

    p2 = tmp_path / "recs.fa"
    p2.write_text(">a desc\nACGT\n>b\nGGTT\n")
    rows2 = {r.ids: r for r in read_bioseq(spark, str(p2), "fasta-2line").collect()}
    assert rows2["a"].sequences == "ACGT" and rows2["b"].sequences == "GGTT"


def test_tab_malformed_lines_raise(spark, tmp_path):
    """SeqIO parity: a non-blank line without exactly one tab must raise,
    not flow through as a fabricated record."""
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    from fireworks_spark.sources import read_tab

    p = tmp_path / "bad.tab"
    p.write_text("r1\tacgt\njunk-without-tab\n")
    with _pytest.raises(Exception) as ei:
        read_tab(spark, str(p)).collect()
    assert "malformed line" in str(ei.value)
    p2 = tmp_path / "bad2.tab"
    p2.write_text("id\tseq\textra\n")
    with _pytest.raises(Exception) as ei2:
        read_tab(spark, str(p2)).collect()
    assert "malformed line" in str(ei2.value)


def test_phylip_interleaved_strict_and_relaxed(spark, tmp_path):
    """Strict 10-column names (spaces INSIDE the name field survive),
    interleaved blocks reassemble in taxon order, site-count mismatches
    raise, and relaxed mode splits names on whitespace instead."""
    import pytest

    from fireworks_spark.sources import read_bioseq

    strict = (
        " 3 12\n"
        "taxon one AAAA\n"
        "taxon_two CCCC\n"
        "t3        GGGG\n"
        "\n"
        "TTTT\n"
        "ACGT\n"
        "AAAA\n"
        "CCCC\n"
        "GGGG\n"
        "TTTT\n"
    )
    f = tmp_path / "a.phy"
    f.write_text(strict)
    got = {
        r.ids: r.sequences
        for r in read_bioseq(spark, str(f), "phylip").collect()
    }
    assert got == {
        "taxon one": "AAAATTTTCCCC",
        "taxon_two": "CCCCACGTGGGG",
        "t3": "GGGGAAAATTTT",
    }

    relaxed = " 2 8\nalpha AAAA\nbeta CCCC\n\nGGGG\nTTTT\n"
    f2 = tmp_path / "b.phy"
    f2.write_text(relaxed)
    got2 = {
        r.ids: r.sequences
        for r in read_bioseq(spark, str(f2), "phylip-relaxed").collect()
    }
    assert got2 == {"alpha": "AAAAGGGG", "beta": "CCCCTTTT"}

    bad = " 2 8\nalpha     AAAA\nbeta      CCCC\n\nGGGG\n"  # beta short
    f3 = tmp_path / "c.phy"
    f3.write_text(bad)
    with pytest.raises(Exception, match="sites"):
        read_bioseq(spark, str(f3), "phylip").collect()


def test_clustal_consensus_and_counts_skipped(spark, tmp_path):
    """CLUSTAL parse: header required, consensus rows (blank name column)
    dropped, trailing cumulative-count columns stripped, chunks joined
    across blocks."""
    import pytest

    from fireworks_spark.sources import read_bioseq

    aln = (
        "CLUSTAL W (1.83) multiple sequence alignment\n"
        "\n"
        "seq1      AAAACCCC 8\n"
        "seq2      AAAAGGGG 8\n"
        "          ****     \n"
        "\n"
        "seq1      TTTT 12\n"
        "seq2      ACGT 12\n"
    )
    f = tmp_path / "x.aln"
    f.write_text(aln)
    got = {
        r.ids: r.sequences
        for r in read_bioseq(spark, str(f), "clustal").collect()
    }
    assert got == {"seq1": "AAAACCCCTTTT", "seq2": "AAAAGGGGACGT"}

    f2 = tmp_path / "bad.aln"
    f2.write_text("not an alignment\nseq1 AAAA\n")
    with pytest.raises(Exception, match="CLUSTAL"):
        read_bioseq(spark, str(f2), "clustal").collect()


def test_phylip_clustal_distributed_roundtrip(spark, tmp_path):
    """write_phylip / write_clustal emit one alignment per partition;
    the file-parallel readers reassemble the full frame exactly. Also:
    unequal sequence lengths refuse a PHYLIP write (alignment contract),
    and >10-char strict names refuse."""
    import pytest

    from fireworks_spark import sources as src

    rows = [(f"id{i}", "ACGT" * 4) for i in range(37)]
    df = spark.createDataFrame(rows, "ids string, sequences string")

    p1 = str(tmp_path / "phy")
    src.write_phylip(df.repartition(4), p1)
    back1 = {
        (r.ids, r.sequences)
        for r in src.read_phylip(spark, p1).collect()
    }
    assert back1 == set(rows)

    p2 = str(tmp_path / "aln")
    src.write_clustal(df.repartition(4), p2, wrap=5)  # ragged final chunk
    back2 = {
        (r.ids, r.sequences)
        for r in src.read_clustal(spark, p2).collect()
    }
    assert back2 == set(rows)

    uneven = spark.createDataFrame(
        [("a", "AAAA"), ("b", "CC")], "ids string, sequences string"
    ).coalesce(1)
    with pytest.raises(Exception, match="share"):
        src.write_phylip(uneven, str(tmp_path / "bad"))
    longname = spark.createDataFrame(
        [("elevenchars", "AAAA")], "ids string, sequences string"
    )
    with pytest.raises(Exception, match="10"):
        src.write_phylip(longname, str(tmp_path / "bad2"))


def test_clustal_all_digit_chunk_not_eaten(spark, tmp_path):
    """A lone all-digit token IS the sequence chunk (md5/hex alphabets
    produce them); only a digit token FOLLOWING a chunk is the optional
    cumulative-count column. Caught live by q180 at sf0.01 (doc 96's
    second block was '538353715942')."""
    from fireworks_spark.sources import read_bioseq

    aln = (
        "CLUSTAL W (1.0) multiple sequence alignment\n"
        "\n"
        "d96   33BFFAB4F340F0C85A00\n"
        "\n"
        "d96   538353715942\n"
    )
    f = tmp_path / "digits.aln"
    f.write_text(aln)
    (r,) = read_bioseq(spark, str(f), "clustal").collect()
    assert r.sequences == "33BFFAB4F340F0C85A00538353715942"


def test_phylip_sequential_multiline(spark, tmp_path):
    """'phylip-sequential': a taxon's sites wrap across lines before the
    next name line — the layout the interleaved parser must NOT silently
    accept (it fails the site-count check instead)."""
    import pytest

    from fireworks_spark.sources import read_bioseq

    seq = (
        " 2 12\n"
        "alpha     AAAA\n"
        "CCCC\n"
        "GGGG\n"
        "beta      TTTT\n"
        "ACGT\n"
        "TTTT\n"
    )
    f = tmp_path / "s.phy"
    f.write_text(seq)
    got = {
        r.ids: r.sequences
        for r in read_bioseq(spark, str(f), "phylip-sequential").collect()
    }
    assert got == {"alpha": "AAAACCCCGGGG", "beta": "TTTTACGTTTTT"}

    # the same file under the interleaved parser must FAIL, not
    # mis-assign: the bare "CCCC" wrapped line would become taxon 2's
    # name and BOTH taxa would still hit 12 sites by accident — the
    # first-block no-sites guard is what catches it
    with pytest.raises(Exception, match="sequential"):
        read_bioseq(spark, str(f), "phylip").collect()


def test_sff_binary_container_roundtrip(spark, tmp_path):
    """SFF (454 flowgram) binary parse against a spec-constructed
    container: big-endian fields, 8-byte alignment, an index block
    between reads that must be skipped, and per-read name/bases/Phred
    arrays."""
    import struct

    from fireworks_spark.sources import read_bioseq

    def pad8(b):
        return b + b"\x00" * ((8 - len(b) % 8) % 8)

    flows, key = b"TACG" * 2, b"TCAG"
    reads = [("read_1", "TTAACCGG", [30, 31, 32, 33, 34, 35, 36, 37]),
             ("r2", "ACGT", [40, 41, 42, 43])]

    def read_block(name, bases, quals):
        nb = len(bases)
        hdr = pad8(
            struct.pack(">HHIHHHH", 0, len(name), nb, 0, 0, 0, 0)
            + name.encode()
        )
        hdr = struct.pack(">H", len(hdr)) + hdr[2:]  # backfill rh_len
        data = (b"\x00\x01" * len(flows)          # flowgram uint16s
                + bytes([1] * nb)                  # flow_index_per_base
                + bases.encode()
                + bytes(quals))
        return hdr + pad8(data)

    body = b"".join(read_block(*r) for r in reads[:1])
    # index block wedged between read 1 and read 2
    index = pad8(b".srt1.00" + b"\x00" * 7)
    body2 = read_block(*reads[1])

    common = struct.pack(
        ">4s4sQIIHHHB",
        b".sff", b"\x00\x00\x00\x01",
        0, 0, len(reads), 0, len(key), len(flows), 1,
    ) + flows + key
    common = pad8(common)
    common = common[:8] + struct.pack(">QI", 31 + 1 + len(body), len(index)) + common[20:]
    common = common[:24] + struct.pack(">H", len(common)) + common[26:]

    # recompute: index sits right after common header + first read block
    index_off = len(common) + len(body)
    common = common[:8] + struct.pack(">QI", index_off, len(index)) + common[20:]

    f = tmp_path / "t.sff"
    f.write_bytes(common + body + index + body2)
    got = {
        r.ids: (r.sequences, list(r.qualities))
        for r in read_bioseq(spark, str(f), "sff").collect()
    }
    assert got == {n: (b, q) for n, b, q in reads}


def test_abi_trace_container_roundtrip(spark, tmp_path):
    """ABIF parse against a spec-constructed container: big-endian
    directory entries, <=4-byte payloads stored INLINE in the dataoffset
    field, PBAS2-over-PBAS1 preference, PCON qualities, SMPL pString
    sample name."""
    import struct

    from fireworks_spark.sources import read_bioseq

    def ent(name, num, etype, esize, payload, data_pool, inline=False):
        if inline or len(payload) <= 4:
            doff = payload + b"\x00" * (4 - len(payload))
            off = None
        else:
            off = sum(len(d) for d in data_pool)
            data_pool.append(payload)
            doff = None
        return (name, num, etype, esize, payload, doff, off)

    bases = b"ACGTACGTTT"
    quals = bytes([40, 39, 38, 37, 36, 35, 34, 33, 32, 31])
    edited = b"ACGTACGTAA"
    sample = b"\x07sample7"  # pString: length byte + text

    entries = []
    pool = []
    entries.append(ent(b"PBAS", 1, 2, 1, bases, pool))
    entries.append(ent(b"PBAS", 2, 2, 1, edited, pool))
    entries.append(ent(b"PCON", 2, 1, 1, quals, pool))
    entries.append(ent(b"SMPL", 1, 18, 1, sample, pool))
    entries.append(ent(b"LANE", 1, 4, 2, b"\x00\x05", pool, inline=True))

    header = b"ABIF" + struct.pack(">h", 101)
    # layout: header(6) + tdir(28) + directory + data blocks
    dir_off = 6 + 28
    data_off = dir_off + 28 * len(entries)
    raw = bytearray(header)
    raw += struct.pack(">4sihhiiii", b"tdir", 1, 1023, 28,
                       len(entries), 28 * len(entries), dir_off, 0)
    for name, num, etype, esize, payload, doff, off in entries:
        if doff is None:
            doff = struct.pack(">i", data_off + off)
        raw += (struct.pack(">4sihhii", name, num, etype, esize,
                            len(payload) // esize, len(payload))
                + doff + b"\x00\x00\x00\x00")  # + datahandle
    raw += b"".join(pool)

    f = tmp_path / "trace.ab1"
    f.write_bytes(bytes(raw))
    (r,) = read_bioseq(spark, str(f), "abi").collect()
    assert r.ids == "sample7"
    assert r.sequences == "ACGTACGTAA"  # PBAS2 preferred over PBAS1
    assert list(r.qualities) == list(quals)


def test_alignment_write_rerun_replaces_and_failure_preserves(spark, tmp_path):
    """Reviewed r10: the alignment writers publish write-then-swap. A
    rerun into the same path REPLACES the previous parts (uuid-named
    appends would silently double every record on read), and a job that
    fails mid-write leaves the previous committed output untouched."""
    import pytest

    from fireworks_spark import sources as src

    rows = [(f"id{i}", "ACGT" * 3) for i in range(10)]
    df = spark.createDataFrame(rows, "ids string, sequences string")
    p = str(tmp_path / "phy")
    src.write_phylip(df.repartition(3), p)
    src.write_phylip(df.repartition(3), p)  # rerun: the overwrite idiom
    got = [(r.ids, r.sequences) for r in src.read_phylip(spark, p).collect()]
    assert sorted(got) == sorted(rows)  # each taxon exactly once

    # a failing rerun (strict 10-char name check raises in-task) must not
    # corrupt the committed output
    bad = spark.createDataFrame(
        [("waytoolongname", "ACGTACGTACGT")], "ids string, sequences string"
    )
    with pytest.raises(Exception, match="10"):
        src.write_phylip(bad, p)
    got = [(r.ids, r.sequences) for r in src.read_phylip(spark, p).collect()]
    assert sorted(got) == sorted(rows)

    p2 = str(tmp_path / "aln")
    src.write_clustal(df.repartition(3), p2, wrap=5)
    src.write_clustal(df.repartition(3), p2, wrap=5)
    got2 = [
        (r.ids, r.sequences) for r in src.read_clustal(spark, p2).collect()
    ]
    assert sorted(got2) == sorted(rows)


def test_clustal_count_column_conventions(spark, tmp_path):
    """The trailing-count strip fires only when the digit token equals the
    taxon's cumulative residue count (clustalw) or the line's own count
    (per-line writers). A multi-token line whose LAST residue group is
    all digits — hex/numeric alphabets — fails both checks and is kept."""
    from fireworks_spark.sources import read_bioseq

    # cumulative counts (clustalw convention): 10, then 20
    f1 = tmp_path / "cum.aln"
    f1.write_text(
        "CLUSTAL W (1.0) multiple sequence alignment\n\n"
        "tax1   ACGTACGTAC 10\n\n"
        "tax1   ACGTACGTAC 20\n"
    )
    (r,) = read_bioseq(spark, str(f1), "clustal").collect()
    assert r.sequences == "ACGTACGTACACGTACGTAC"

    # per-line counts: 10 on both blocks
    f2 = tmp_path / "line.aln"
    f2.write_text(
        "CLUSTAL W (1.0) multiple sequence alignment\n\n"
        "tax1   ACGTACGTAC 10\n\n"
        "tax1   ACGTACGTAC 10\n"
    )
    (r,) = read_bioseq(spark, str(f2), "clustal").collect()
    assert r.sequences == "ACGTACGTACACGTACGTAC"

    # all-digit final residue group, space-grouped hex writer, no count
    # column: 33BFFAB4F3 + 5383537159 are BOTH sequence data
    f3 = tmp_path / "hex.aln"
    f3.write_text(
        "CLUSTAL W (1.0) multiple sequence alignment\n\n"
        "d96   33BFFAB4F3 5383537159\n"
    )
    (r,) = read_bioseq(spark, str(f3), "clustal").collect()
    assert r.sequences == "33BFFAB4F35383537159"


def test_clustal_gapped_seqnos_stripped(spark, tmp_path):
    """ADVICE r10 (high): ClustalW SEQNOS counts RESIDUES, excluding gap
    characters — a gapped line like 'tax1 ACGT-ACGTC 9' must strip the
    count (9 = 10 columns minus 1 gap), not append it to the sequence.
    Cumulative gapless counts across blocks must strip too, and writers
    that count alignment COLUMNS (gaps included) keep working."""
    from fireworks_spark.sources import read_bioseq

    # gapless residue counts, cumulative (the clustalw convention):
    # block 1 has 9 residues in 10 columns; block 2 adds 6 in 9 columns
    f = tmp_path / "gap.aln"
    f.write_text(
        "CLUSTAL W (1.83) multiple sequence alignment\n\n"
        "tax1   ACGT-ACGTC 9\n"
        "tax2   ACGTAACGTC 10\n\n"
        "tax1   AC.--CGTC 15\n"
        "tax2   ACGTACGTC 19\n"
    )
    got = {
        r.ids: r.sequences
        for r in read_bioseq(spark, str(f), "clustal").collect()
    }
    assert got == {
        "tax1": "ACGT-ACGTCAC.--CGTC",
        "tax2": "ACGTAACGTCACGTACGTC",
    }

    # column counts (gaps included) still accepted: 10 columns, 1 gap
    f2 = tmp_path / "col.aln"
    f2.write_text(
        "CLUSTAL W (1.83) multiple sequence alignment\n\n"
        "tax1   ACGT-ACGTC 10\n"
    )
    (r,) = read_bioseq(spark, str(f2), "clustal").collect()
    assert r.sequences == "ACGT-ACGTC"


def test_alignment_read_dedups_zombie_part_attempts(spark, tmp_path):
    """ADVICE r10 (medium): a zombie/speculative task attempt that renames
    its part file visible AFTER the writer's publish check
    leaves two part-<pid>-* files for one partition. The read side keeps
    only the lexicographically-first file per pid (any completed attempt
    holds the identical alignment), so no taxon is read twice; files
    outside the writers' exact part scheme are read as-is."""
    import glob
    import os
    import shutil

    from fireworks_spark import sources as src

    rows = [(f"id{i}", "ACGT" * 3) for i in range(6)]
    df = spark.createDataFrame(rows, "ids string, sequences string")
    p = str(tmp_path / "phy")
    src.write_phylip(df.repartition(2), p)
    parts = sorted(glob.glob(os.path.join(p, "part-*.phy")))
    assert len(parts) == 2
    # simulate the zombie attempt: same pid, different attempt uuid
    pid = os.path.basename(parts[0]).split("-")[1]
    zombie = os.path.join(p, f"part-{pid}-{'f' * 32}.phy")
    shutil.copy(parts[0], zombie)
    got = [(r.ids, r.sequences) for r in src.read_phylip(spark, p).collect()]
    assert sorted(got) == sorted(rows)  # each taxon exactly once

    # a non-part-scheme file in the dir is NOT deduped away
    extra = os.path.join(p, "extra.phy")
    shutil.copy(parts[1], extra)
    got2 = src.read_phylip(spark, p).count()
    assert got2 == len(rows) + 3  # parts[1] holds 3 of the 6 taxa


def test_stockholm_parse_interleaved_with_gs_de(spark, tmp_path):
    """Stockholm parse: header required, #=GS DE descriptions surfaced
    (repeats concatenated), GF/GC/GR annotations dropped, interleaved
    chunks joined, content after '//' rejected loudly."""
    import pytest

    from fireworks_spark.sources import read_bioseq

    sto = (
        "# STOCKHOLM 1.0\n"
        "#=GF ID   EXAMPLE\n"
        "#=GS seq1 DE first half\n"
        "#=GS seq1 DE and second\n"
        "#=GS seq2 AC PF00001\n"
        "\n"
        "seq1         ACDE-FGH\n"
        "seq2         ACDEQFGH\n"
        "#=GC SS_cons <<<<>>>>\n"
        "\n"
        "seq1         IKLM\n"
        "seq2         IK-M\n"
        "//\n"
    )
    f = tmp_path / "x.sto"
    f.write_text(sto)
    rows = {r.ids: r for r in read_bioseq(spark, str(f), "stockholm").collect()}
    assert rows["seq1"].sequences == "ACDE-FGHIKLM"
    assert rows["seq2"].sequences == "ACDEQFGHIK-M"
    assert rows["seq1"].descriptions == "first half and second"
    assert rows["seq2"].descriptions == ""

    f2 = tmp_path / "noheader.sto"
    f2.write_text("seq1 ACGT\n//\n")
    with pytest.raises(Exception, match="STOCKHOLM"):
        read_bioseq(spark, str(f2), "stockholm").collect()

    f3 = tmp_path / "two.sto"
    f3.write_text("# STOCKHOLM 1.0\nseq1 ACGT\n//\nseq1 TTTT\n//\n")
    with pytest.raises(Exception, match="multiple alignments"):
        read_bioseq(spark, str(f3), "stockholm").collect()


def test_nexus_parse_quoted_names_comments_interleaved(spark, tmp_path):
    """NEXUS parse: #NEXUS header required, nested/multi-line [comments]
    stripped (not inside quotes), quoted taxon names with spaces,
    interleaved matrix blocks accumulated, ';' terminates the matrix."""
    import pytest

    from fireworks_spark.sources import read_bioseq

    nex = (
        "#NEXUS\n"
        "[a file-level comment [nested] spanning\n"
        "two lines]\n"
        "begin data;\n"
        "  dimensions ntax=2 nchar=12;\n"
        "  format datatype=dna gap=- missing=?;\n"
        "  matrix\n"
        "    'taxon one'  ACGT-ACG [inline note]\n"
        "    tax2         ACGTQACG\n"
        "\n"
        "    'taxon one'  TTTT\n"
        "    tax2         AC-T\n"
        "  ;\n"
        "end;\n"
    )
    f = tmp_path / "x.nex"
    f.write_text(nex)
    got = {
        r.ids: r.sequences
        for r in read_bioseq(spark, str(f), "nexus").collect()
    }
    assert got == {"taxon one": "ACGT-ACGTTTT", "tax2": "ACGTQACGAC-T"}

    f2 = tmp_path / "bad.nex"
    f2.write_text("begin data;\nmatrix\nseq1 ACGT\n;\nend;\n")
    with pytest.raises(Exception, match="NEXUS"):
        read_bioseq(spark, str(f2), "nexus").collect()

    f3 = tmp_path / "nomatrix.nex"
    f3.write_text("#NEXUS\nbegin taxa;\nend;\n")
    with pytest.raises(Exception, match="matrix"):
        read_bioseq(spark, str(f3), "nexus").collect()


def test_stockholm_nexus_distributed_roundtrip(spark, tmp_path):
    """write_stockholm / write_nexus emit one alignment per partition
    under the write-then-swap publisher; the file-parallel readers
    reassemble all partitions, descriptions round-trip (stockholm), and
    write_nexus enforces the equal-length alignment contract."""
    import pytest

    from fireworks_spark import sources as src

    df = spark.createDataFrame(
        [(f"t{i:02d}", "ACGT" * 4, f"desc {i}") for i in range(12)],
        "ids string, sequences string, descriptions string",
    )
    p1 = str(tmp_path / "sto_dir")
    src.write_stockholm(
        df.repartition(4), p1, desc_col="descriptions"
    )
    back1 = {
        r.ids: (r.sequences, r.descriptions)
        for r in src.read_stockholm(spark, p1).collect()
    }
    assert back1 == {
        f"t{i:02d}": ("ACGT" * 4, f"desc {i}") for i in range(12)
    }

    p2 = str(tmp_path / "nex_dir")
    src.write_nexus(df.repartition(3), p2)
    back2 = {
        r.ids: r.sequences for r in src.read_nexus(spark, p2).collect()
    }
    assert back2 == {f"t{i:02d}": "ACGT" * 4 for i in range(12)}

    ragged = spark.createDataFrame(
        [("a", "ACGT"), ("b", "ACGTACGT")], "ids string, sequences string"
    )
    with pytest.raises(Exception, match="share a length"):
        src.write_nexus(ragged.coalesce(1), str(tmp_path / "bad"))

    # Stockholm has no name quoting: names that would read back as
    # annotations/terminators (or split into name+sequence) fail LOUDLY
    spacey = spark.createDataFrame(
        [("tax one", "ACGT")], "ids string, sequences string"
    )
    with pytest.raises(Exception, match="whitespace"):
        src.write_stockholm(spacey.coalesce(1), str(tmp_path / "bad2"))
    hashy = spark.createDataFrame(
        [("#=GC", "ACGT")], "ids string, sequences string"
    )
    with pytest.raises(Exception, match="annotations"):
        src.write_stockholm(hashy.coalesce(1), str(tmp_path / "bad3"))
    # NEXUS quoting covers spaces but not embedded quotes
    quoty = spark.createDataFrame(
        [("o'hara", "ACGT")], "ids string, sequences string"
    )
    with pytest.raises(Exception, match="quote"):
        src.write_nexus(quoty.coalesce(1), str(tmp_path / "bad4"))
    # ADVICE r11: ';' terminates the matrix on read and '['/']' are
    # stripped as comments — all three must fail loudly at write time
    for badname in ("a;b", "a[b", "a]b"):
        bad_df = spark.createDataFrame(
            [(badname, "ACGT")], "ids string, sequences string"
        )
        with pytest.raises(Exception, match="quote|terminates|comments"):
            src.write_nexus(bad_df.coalesce(1), str(tmp_path / "bad5"))
    # ADVICE r11: a newline in a stockholm description splits the #=GS
    # line and the spillover reparses as a phantom sequence row
    nl_desc = spark.createDataFrame(
        [("t1", "ACGT", "line1\nACGT")],
        "ids string, sequences string, descriptions string",
    )
    with pytest.raises(Exception, match="newline"):
        src.write_stockholm(
            nl_desc.coalesce(1), str(tmp_path / "bad6"),
            desc_col="descriptions",
        )
    # ADVICE r11: an empty sequence writes a name-only line the reader
    # rejects as malformed — fail at write time instead
    empty_seq = spark.createDataFrame(
        [("t1", "")], "ids string, sequences string"
    )
    with pytest.raises(Exception, match="empty"):
        src.write_stockholm(empty_seq.coalesce(1), str(tmp_path / "bad7"))


def test_ace_assembly_contigs(spark, tmp_path):
    """ACE parse (consed spec): one record per CO contig, '*' pads
    rendered '-', BQ phreds expanded with 0 at pad positions, read-level
    sections (AF/RD/QA/DS) and tags skipped, AS count validated."""
    import pytest

    from fireworks_spark.sources import read_bioseq

    ace = (
        "AS 2 3\n"
        "\n"
        "CO Contig1 10 2 1 U\n"
        "ACGT*ACGTA\n"
        "\n"
        "BQ\n"
        "20 20 20 20 30 30 30 30 30\n"
        "\n"
        "AF read1 U 1\n"
        "AF read2 C 3\n"
        "BS 1 10 read1\n"
        "RD read1 10 0 0\n"
        "ACGT*ACGTA\n"
        "QA 1 10 1 10\n"
        "DS CHROMAT_FILE: read1 PHD_FILE: read1.phd.1\n"
        "\n"
        "CO Contig2 4 1 1 C\n"
        "TT*G\n"
        "\n"
        "RD read3 4 0 0\n"
        "TT*G\n"
        "QA 1 4 1 4\n"
    )
    f = tmp_path / "asm.ace"
    f.write_text(ace)
    rows = {r.ids: r for r in read_bioseq(spark, str(f), "ace").collect()}
    assert rows["Contig1"].sequences == "ACGT-ACGTA"
    assert rows["Contig1"].qualities == [20, 20, 20, 20, 0, 30, 30, 30, 30, 30]
    # no BQ block -> empty qualities, pads still rendered
    assert rows["Contig2"].sequences == "TT-G"
    assert rows["Contig2"].qualities == []

    bad = tmp_path / "bad.ace"
    bad.write_text("AS 2 3\nCO OnlyOne 4 1 1 U\nACGT\n")
    with pytest.raises(Exception, match="declares 2 contigs"):
        read_bioseq(spark, str(bad), "ace").collect()

    short = tmp_path / "short.ace"
    short.write_text("AS 1 1\nCO C1 9 1 1 U\nACGT\n")
    with pytest.raises(Exception, match="declares 9 bases"):
        read_bioseq(spark, str(short), "ace").collect()


def test_ig_parse_and_distributed_roundtrip(spark, tmp_path):
    """IntelliGenetics: ';' comments become descriptions, the trailing
    topology digit is stripped, and the distributed writer/reader pair
    round-trips exactly — including sequences that legitimately end in
    '1'/'2' (the writer always appends its own terminator)."""
    import pytest

    from fireworks_spark import sources as src
    from fireworks_spark.sources import read_bioseq

    ig = (
        "; circular plasmid\n"
        "; from lab X\n"
        "pUC19\n"
        "ACGT\nACGT2\n"
        ";\n"
        "frag1\n"
        "TTTT1\n"
    )
    f = tmp_path / "x.ig"
    f.write_text(ig)
    rows = {r.ids: r for r in read_bioseq(spark, str(f), "ig").collect()}
    assert rows["pUC19"].sequences == "ACGTACGT"
    assert rows["pUC19"].descriptions == "circular plasmid from lab X"
    assert rows["frag1"].sequences == "TTTT"
    assert rows["frag1"].descriptions == ""

    # distributed roundtrip: sequences ending in the terminator digits
    data = [
        ("s1", "ACGT1", "ends in one"),
        ("s2", "ACGT2", "ends in two"),
        ("s3", "ACGTACGT", ""),
    ]
    df = spark.createDataFrame(
        data, "ids string, sequences string, descriptions string"
    )
    out = tmp_path / "ig_out"
    src.write_ig(df.repartition(2), str(out), desc_col="descriptions")
    back = {
        r.ids: r for r in src.read_ig(spark, str(out)).collect()
    }
    assert {k: v.sequences for k, v in back.items()} == {
        "s1": "ACGT1", "s2": "ACGT2", "s3": "ACGTACGT"
    }
    assert back["s1"].descriptions == "ends in one"
    assert back["s3"].descriptions == ""

    # fail-loud writer guards: whitespace names, ';' sequences
    for bad in [("a b", "ACGT", "")], [("ok", "AC;GT", "")]:
        with pytest.raises(Exception, match="whitespace|';'"):
            src.write_ig(
                spark.createDataFrame(
                    bad, "ids string, sequences string, descriptions string"
                ).coalesce(1),
                str(tmp_path / "bad_ig"),
                desc_col="descriptions",
            )


def test_phd_parse_and_distributed_roundtrip(spark, tmp_path):
    """PHD: BEGIN_DNA 'base quality position' rows parse into sequences +
    per-base qualities; the writer/reader pair round-trips both."""
    import pytest

    from fireworks_spark import sources as src
    from fireworks_spark.sources import read_bioseq

    phd = (
        "BEGIN_SEQUENCE read1\n\n"
        "BEGIN_COMMENT\nCHROMAT_FILE: read1\nEND_COMMENT\n\n"
        "BEGIN_DNA\na 9 6\nc 10 15\ng 40 22\nt 0 28\nEND_DNA\n\n"
        "END_SEQUENCE\n"
    )
    f = tmp_path / "x.phd"
    f.write_text(phd)
    rows = read_bioseq(spark, str(f), "phd").collect()
    assert rows[0].ids == "read1"
    assert rows[0].sequences == "acgt"
    assert rows[0].qualities == [9, 10, 40, 0]

    df = spark.createDataFrame(
        [("r1", "acgt", [1, 2, 3, 4]), ("r2", "gg", [50, 60])],
        "ids string, sequences string, qualities array<int>",
    )
    out = tmp_path / "phd_out"
    src.write_phd(df.repartition(2), str(out), qual_col="qualities")
    back = {r.ids: r for r in src.read_phd(spark, str(out)).collect()}
    assert back["r1"].sequences == "acgt" and back["r1"].qualities == [1, 2, 3, 4]
    assert back["r2"].qualities == [50, 60]

    # default quality, and the one-score-per-base guard
    src.write_phd(df.select("ids", "sequences").coalesce(1),
                  str(tmp_path / "phd_q30"))
    q30 = {r.ids: r for r in src.read_phd(
        spark, str(tmp_path / "phd_q30")).collect()}
    assert q30["r1"].qualities == [30, 30, 30, 30]
    short = spark.createDataFrame(
        [("r1", "acgt", [1])],
        "ids string, sequences string, qualities array<int>",
    )
    with pytest.raises(Exception, match="one score per"):
        src.write_phd(short.coalesce(1), str(tmp_path / "bad_phd"),
                      qual_col="qualities")


def test_pdb_seqres_atom_and_roundtrip(spark, tmp_path):
    """PDB: SEQRES parses by the spec's fixed columns with numRes
    validated; pdb-atom reconstructs per-chain sequences from CA atoms
    (altLoc-deduped); the one-entry-per-row writer round-trips through
    pdb-seqres with '<IDCODE>:A' ids."""
    import pytest

    from fireworks_spark import sources as src
    from fireworks_spark.sources import read_bioseq

    pdb = (
        "HEADER    HYDROLASE                               01-JAN-00   1ABC\n"
        "SEQRES   1 A    3  ALA GLY TRP\n"
        "SEQRES   1 B    2  MET LYS\n"
        "ATOM      1  N   ALA A   1      11.104   6.134  -6.504  1.00  0.00           N\n"
        "ATOM      2  CA  ALA A   1      11.639   6.071  -5.147  1.00  0.00           C\n"
        "ATOM      3  CA AGLY A   2      12.000   7.000  -4.000  1.00  0.00           C\n"
        "ATOM      4  CA BGLY A   2      12.100   7.100  -4.100  1.00  0.00           C\n"
        "ATOM      5  CA  MET B   1       1.000   2.000   3.000  1.00  0.00           C\n"
        "END\n"
    )
    f = tmp_path / "1abc.ent"
    f.write_text(pdb)
    seqres = {r.ids: r for r in read_bioseq(
        spark, str(f), "pdb-seqres").collect()}
    assert seqres["1ABC:A"].sequences == "AGW"
    assert seqres["1ABC:B"].sequences == "MK"
    assert seqres["1ABC:A"].descriptions == "mol:protein length:3"
    atom = {r.ids: r for r in read_bioseq(
        spark, str(f), "pdb-atom").collect()}
    # ATOM view: only resolved CA residues (chain A misses TRP; altLoc B
    # of GLY 2 is not double-counted), chain B's SEQRES LYS is unresolved
    assert atom["1ABC:A"].sequences == "AG"
    assert atom["1ABC:B"].sequences == "M"

    # numRes mismatch is loud
    bad = pdb.replace("SEQRES   1 A    3", "SEQRES   1 A    4")
    (tmp_path / "bad.ent").write_text(bad)
    with pytest.raises(Exception, match="declares 4"):
        read_bioseq(spark, str(tmp_path / "bad.ent"), "pdb-seqres").collect()

    # distributed roundtrip: one entry file per row, 14+ residues so the
    # SEQRES 13-per-line wrap is exercised
    df = spark.createDataFrame(
        [("1foo", "ACDEFGHIKLMNPQRSTVWY"), ("2bar", "MKVLA")],
        "ids string, sequences string",
    )
    out = tmp_path / "pdb_out"
    src.write_pdb_seqres(df.repartition(2), str(out))
    back = {r.ids: r for r in src.read_pdb_seqres(spark, str(out)).collect()}
    assert back["1FOO:A"].sequences == "ACDEFGHIKLMNPQRSTVWY"
    assert back["2BAR:A"].sequences == "MKVLA"
    with pytest.raises(Exception, match="1-4 ASCII alphanumeric"):
        src.write_pdb_seqres(
            spark.createDataFrame(
                [("toolong", "MK")], "ids string, sequences string"
            ).coalesce(1),
            str(tmp_path / "bad_pdb"),
        )


def test_nib_binary_roundtrip(spark, tmp_path):
    """UCSC nib: 2-bases-per-byte binary with the soft-mask bit; odd and
    even lengths round-trip, the big-endian variant reads, and the
    alphabet/filename guards are loud."""
    import struct

    import pytest

    from fireworks_spark import sources as src
    from fireworks_spark.sources import read_bioseq

    df = spark.createDataFrame(
        [("chr1", "ACGTNacgtn"), ("chr2", "TTT")],
        "ids string, sequences string",
    )
    out = tmp_path / "nib_out"
    src.write_nib(df.repartition(2), str(out))
    back = {r.ids: r for r in src.read_nib(spark, str(out)).collect()}
    assert back["chr1"].sequences == "ACGTNacgtn"
    assert back["chr2"].sequences == "TTT"  # odd length: pad nibble dropped

    # big-endian header variant (opposite byte order) also reads
    be = tmp_path / "be"
    be.mkdir()
    (be / "x.nib").write_bytes(
        struct.pack(">II", 0x6BE93D3A, 3) + bytes([0x01, 0x20])
    )
    rows = read_bioseq(spark, str(be / "x.nib"), "nib").collect()
    assert rows[0].sequences == "TCA" and rows[0].ids == "x"

    with pytest.raises(Exception, match="TCAGN"):
        src.write_nib(
            spark.createDataFrame(
                [("x", "ACGU")], "ids string, sequences string"
            ).coalesce(1),
            str(tmp_path / "bad_nib"),
        )
    with pytest.raises(Exception, match="file stems"):
        src.write_nib(
            spark.createDataFrame(
                [("_x", "ACG")], "ids string, sequences string"
            ).coalesce(1),
            str(tmp_path / "bad_nib2"),
        )


def test_seqxml_roundtrip_and_dbrefs(spark, tmp_path):
    """SeqXML: entries parse with descriptions and DBRef dbxrefs; the
    writer XML-escapes ids/descriptions so arbitrary text roundtrips;
    whitespace sequences fail loudly."""
    import pytest

    from fireworks_spark import sources as src
    from fireworks_spark.sources import read_bioseq

    xml = (
        '<?xml version="1.0"?>\n<seqXML seqXMLversion="0.4">\n'
        '  <entry id="P1">\n'
        "    <description>test protein</description>\n"
        "    <AAseq>MKVLA</AAseq>\n"
        '    <DBRef source="GenBank" id="U378"/>\n'
        '    <DBRef source="PDB" id="1ABC"/>\n'
        "  </entry>\n"
        '  <entry id="D1"><DNAseq>ACGT</DNAseq></entry>\n'
        "</seqXML>\n"
    )
    f = tmp_path / "x.xml"
    f.write_text(xml)
    rows = {r.ids: r for r in read_bioseq(spark, str(f), "seqxml").collect()}
    assert rows["P1"].sequences == "MKVLA"
    assert rows["P1"].descriptions == "test protein"
    assert rows["P1"].dbxrefs == ["GenBank:U378", "PDB:1ABC"]
    assert rows["D1"].sequences == "ACGT"

    # roundtrip with XML-hostile ids/descriptions
    df = spark.createDataFrame(
        [("a&b", "MKV", 'desc <with> "specials" &'), ("c", "LA", "")],
        "ids string, sequences string, descriptions string",
    )
    out = tmp_path / "xml_out"
    src.write_seqxml(df.repartition(2), str(out), desc_col="descriptions")
    back = {r.ids: r for r in src.read_seqxml(spark, str(out)).collect()}
    assert back["a&b"].sequences == "MKV"
    assert back["a&b"].descriptions == 'desc <with> "specials" &'
    assert back["c"].descriptions == ""

    with pytest.raises(Exception, match="whitespace"):
        src.write_seqxml(
            spark.createDataFrame(
                [("x", "M K", "")],
                "ids string, sequences string, descriptions string",
            ).coalesce(1),
            str(tmp_path / "bad_xml"),
            desc_col="descriptions",
        )
    # malformed XML is a loud ValueError, not a parse crash
    (tmp_path / "broken.xml").write_text("<seqXML><entry></seqXML>")
    with pytest.raises(Exception, match="malformed XML"):
        src.read_seqxml(spark, str(tmp_path / "broken.xml")).collect()


def test_twobit_roundtrip_blocks_and_endianness(spark, tmp_path):
    """UCSC 2bit: multi-sequence files with N blocks and soft-mask
    blocks roundtrip (including masked N); the big-endian variant reads;
    alphabet and name-length guards are loud."""
    import struct

    import pytest

    from fireworks_spark import sources as src
    from fireworks_spark.sources import read_bioseq

    df = spark.createDataFrame(
        [
            ("chr1", "ACGTNNNacgtnACGT"),  # N run, mask run, masked N
            ("chr2", "TTT"),               # non-multiple-of-4 length
            ("chr3", "acgt"),              # fully masked
        ],
        "ids string, sequences string",
    )
    out = tmp_path / "tb_out"
    src.write_twobit(df.repartition(2), str(out))
    back = {r.ids: r for r in src.read_twobit(spark, str(out)).collect()}
    assert back["chr1"].sequences == "ACGTNNNacgtnACGT"
    assert back["chr2"].sequences == "TTT"
    assert back["chr3"].sequences == "acgt"

    # hand-built big-endian single-sequence file: 'TCAG' packed 0b00011011
    be = tmp_path / "be.2bit"
    body = struct.pack(">I", 4) + struct.pack(">I", 0) + struct.pack(
        ">I", 0
    ) + struct.pack(">I", 0) + bytes([0b00011011])
    hdr = struct.pack(">IIII", 0x1A412743, 0, 1, 0)
    idx = bytes([1]) + b"s" + struct.pack(">I", 16 + 6)
    be.write_bytes(hdr + idx + body)
    rows = read_bioseq(spark, str(be), "twobit").collect()
    assert rows[0].ids == "s" and rows[0].sequences == "TCAG"

    with pytest.raises(Exception, match="ACGTN"):
        src.write_twobit(
            spark.createDataFrame(
                [("x", "ACGU")], "ids string, sequences string"
            ).coalesce(1),
            str(tmp_path / "bad_tb"),
        )


def test_bioseq_dispatch_aliases(spark, tmp_path):
    """imgt reads via the EMBL frame; fastq-solexa/-illumina read via the
    FASTQ 4-line parse (raw ASCII qualities in both encodings)."""
    from fireworks_spark.sources import read_bioseq

    fq = "@r1\nACGT\n+\nhhhh\n"  # 'h' = Q40 in the 64-offset encodings
    f = tmp_path / "x.fastq"
    f.write_text(fq)
    for ft in ("fastq-solexa", "fastq-illumina"):
        rows = read_bioseq(spark, str(f), ft).collect()
        assert rows[0].sequences == "ACGT" and rows[0].qualities == "hhhh"

    embl = (
        "ID   AB000001; SV 1; linear; mRNA; STD; HUM; 4 BP.\n"
        "DE   test imgt record\n"
        "SQ   Sequence 4 BP;\n"
        "     acgt                                                   4\n"
        "//\n"
    )
    g = tmp_path / "x.imgt"
    g.write_text(embl)
    rows = read_bioseq(spark, str(g), "imgt").collect()
    assert rows[0].ids == "AB000001" and rows[0].sequences.upper() == "ACGT"


def test_fastq_ranged_blank_lines_match_wholetext(spark, tmp_path):
    """Review r12: blank lines (trailing and interior) must not diverge
    the ranged path from the wholetext path — wholetext filters empties,
    so ranged skips them in its lookahead fill instead of reading a
    truncated record (trailing) or failing the resync head test's
    next-record lookahead (interior)."""
    from fireworks_spark.sources import (
        _read_fastq_wholetext,
        read_fastq_ranged,
    )

    p = tmp_path / "blanky.fastq"
    p.write_text(
        "@r0 first\nACGT\n+\n@@@@\n"
        "\n"                       # interior blank between records
        "@r1 second\nTTGG\n+\nIIII\n"
        "\n\n"                     # trailing blanks
    )
    whole = sorted(
        tuple(r)
        for r in _read_fastq_wholetext(spark, str(p))
        .select("ids", "sequences", "qualities")
        .collect()
    )
    for chunk in (997, 16, 37):
        ranged = sorted(
            tuple(r)
            for r in read_fastq_ranged(spark, [str(p)], chunk_bytes=chunk)
            .select("ids", "sequences", "qualities")
            .collect()
        )
        assert ranged == whole, f"chunk={chunk}"
    assert [w[0] for w in whole] == ["r0", "r1"]


def test_seqxml_sequence_with_xml_specials(spark, tmp_path):
    """Review r12: a sequence containing '&' or '<' must be escaped on
    write — unescaped it publishes a corpus every read rejects as
    malformed XML."""
    from fireworks_spark import sources as src

    df = spark.createDataFrame(
        [("x", "A&B<C>", "")],
        "ids string, sequences string, descriptions string",
    )
    out = tmp_path / "specials"
    src.write_seqxml(df.coalesce(1), str(out), desc_col="descriptions")
    back = src.read_seqxml(spark, str(out)).collect()
    assert back[0].sequences == "A&B<C>"


def test_pdb_idcode_base36_no_truncation(spark, tmp_path):
    """Review r12: q187's id scheme must not truncate large doc_ids —
    base-36 encoding keeps 5+ digit ids inside the 4-char idCode field
    and conv() inverts it exactly."""
    from pyspark.sql import functions as F

    from fireworks_spark import sources as src

    df = spark.range(1).select(
        F.lpad(F.conv(F.lit("10088"), 10, 36), 4, "0").alias("ids"),
        F.lit("MKVLA").alias("sequences"),
    )
    out = tmp_path / "big_id"
    src.write_pdb_seqres(df.coalesce(1), str(out))
    back = src.read_pdb_seqres(spark, str(out)).collect()
    got = int(back[0].ids.split(":")[0], 36)
    assert got == 10088


def test_uniprot_xml_parse_and_roundtrip(spark, tmp_path):
    """UniProtKB XML: first accession = id, <name>, recommendedName/
    fullName -> description, dbReferences -> dbxrefs, namespaced tags
    handled; the subset writer round-trips with XML-hostile text."""
    import pytest

    from fireworks_spark import sources as src
    from fireworks_spark.sources import read_bioseq

    xml = (
        '<?xml version="1.0"?>\n'
        '<uniprot xmlns="http://uniprot.org/uniprot">\n'
        '  <entry dataset="Swiss-Prot">\n'
        "    <accession>P12345</accession>\n"
        "    <accession>Q99999</accession>\n"
        "    <name>TEST_HUMAN</name>\n"
        "    <protein><recommendedName><fullName>Test protein"
        "</fullName></recommendedName></protein>\n"
        '    <dbReference type="PDB" id="1ABC"/>\n'
        '    <dbReference type="GO" id="GO:0005737"/>\n'
        '    <sequence length="5">MKVLA</sequence>\n'
        "  </entry>\n"
        "  <entry><accession>A0A001</accession>\n"
        "    <protein><submittedName><fullName>TrEMBL thing</fullName>"
        "</submittedName></protein>\n"
        "    <sequence>GG</sequence></entry>\n"
        "</uniprot>\n"
    )
    f = tmp_path / "up.xml"
    f.write_text(xml)
    rows = {
        r.ids: r
        for r in read_bioseq(spark, str(f), "uniprot-xml").collect()
    }
    assert rows["P12345"].names == "TEST_HUMAN"
    assert rows["P12345"].descriptions == "Test protein"
    assert rows["P12345"].sequences == "MKVLA"
    assert rows["P12345"].dbxrefs == ["PDB:1ABC", "GO:GO:0005737"]
    assert rows["A0A001"].descriptions == "TrEMBL thing"  # submittedName

    df = spark.createDataFrame(
        [("P1", "N&1", "MKV", 'd <"x"> &'), ("P2", "N2", "LA", "")],
        "ids string, names string, sequences string, descriptions string",
    )
    out = tmp_path / "up_out"
    src.write_uniprot_xml(
        df.repartition(2), str(out), name_col="names",
        desc_col="descriptions",
    )
    back = {
        r.ids: r for r in src.read_uniprot_xml(spark, str(out)).collect()
    }
    assert back["P1"].names == "N&1"
    assert back["P1"].descriptions == 'd <"x"> &'
    assert back["P2"].sequences == "LA" and back["P2"].descriptions == ""

    # missing sequence / accession fail loudly
    (tmp_path / "noseq.xml").write_text(
        '<uniprot><entry><accession>X</accession></entry></uniprot>'
    )
    with pytest.raises(Exception, match="no <sequence>"):
        src.read_uniprot_xml(spark, str(tmp_path / "noseq.xml")).collect()


def test_mott_trim_and_abi_trim_dispatch(spark, tmp_path):
    """Mott quality trimming (SeqIO 'abi-trim'): low-quality flanks drop,
    the high-quality core survives, an all-junk read trims to empty, and
    the dispatch alias applies it to ABIF reads."""
    import struct

    import pytest

    from fireworks_spark.sources import mott_trim, read_bioseq

    # hand-checkable: Q2 flanks (error 0.63 >> cutoff) around a Q40 core.
    # SeqIO parity quirks (ADVICE r12): trim_start is the first index with
    # non-negative cumulative score counted FROM BASE 1 (base 0 is never
    # scored), and the peak base is excluded by the [start:finish) slice —
    # so the 22-base Q40 core keeps 21 bases (indices 4..24).
    seq = "acgt" + "GTACGTACGTACGTACGTACGT" + "acgt"
    quals = [2] * 4 + [40] * 22 + [2] * 4
    t_seq, t_quals = mott_trim(seq, quals)
    assert t_seq == seq[4:25] and t_quals == [40] * 21
    # reads of <= 20 bases pass through untrimmed (SeqIO's segment guard)
    assert mott_trim("acgt", [2, 2, 2, 2]) == ("acgt", [2, 2, 2, 2])
    # all-junk long read trims to empty
    assert mott_trim("acgt" * 6, [2] * 24) == ("", [])
    # perfect-quality long read: SeqIO drops the first base (never
    # scored) and the last (peak excluded) — the documented off-by-ones
    perfect = "ACGT" * 6
    t_seq, t_quals = mott_trim(perfect, [40] * 24)
    assert t_seq == perfect[1:23] and t_quals == [40] * 22
    with pytest.raises(ValueError, match="quality scores"):
        mott_trim("AC", [40])

    # the dispatch alias: same ABIF container as the roundtrip test, Q2
    # flanks around a high-quality core
    def ent(name, num, etype, esize, payload, data_pool):
        if len(payload) <= 4:
            return (name, num, etype, esize, payload,
                    payload + b"\x00" * (4 - len(payload)), None)
        off = sum(len(d) for d in data_pool)
        data_pool.append(payload)
        return (name, num, etype, esize, payload, None, off)

    bases = b"TT" + b"ACGT" * 6 + b"TT"  # 28 bases: >20 so trimming engages
    quals_b = bytes([2, 2] + [40] * 24 + [2, 2])
    entries, pool = [], []
    entries.append(ent(b"PBAS", 1, 2, 1, bases, pool))
    entries.append(ent(b"PCON", 1, 1, 1, quals_b, pool))
    dir_off = 6 + 28
    data_off = dir_off + 28 * len(entries)
    raw = bytearray(b"ABIF" + struct.pack(">h", 101))
    raw += struct.pack(">4sihhiiii", b"tdir", 1, 1023, 28,
                       len(entries), 28 * len(entries), dir_off, 0)
    for name, num, etype, esize, payload, doff, off in entries:
        if doff is None:
            doff = struct.pack(">i", data_off + off)
        raw += (struct.pack(">4sihhii", name, num, etype, esize,
                            len(payload) // esize, len(payload))
                + doff + b"\x00\x00\x00\x00")
    raw += b"".join(pool)
    f = tmp_path / "trim.ab1"
    f.write_bytes(bytes(raw))
    (full,) = read_bioseq(spark, str(f), "abi").collect()
    (trimmed,) = read_bioseq(spark, str(f), "abi-trim").collect()
    assert full.sequences == "TT" + "ACGT" * 6 + "TT"
    # SeqIO slice [2:25]: core starts at index 2, peak base (25) excluded
    assert trimmed.sequences == ("ACGT" * 6)[:23]
    assert list(trimmed.qualities) == [40] * 23


def test_cif_seqres_atom_and_roundtrip(spark, tmp_path):
    """mmCIF: _entity_poly_seq x _struct_asym gives declared chains,
    _atom_site CA rows give resolved chains (altLoc-deduped, HETATM
    skipped); the multi-chain-per-partition writer roundtrips the whole
    frame with multi-character chain ids."""
    import pytest

    from fireworks_spark import sources as src
    from fireworks_spark.sources import read_bioseq

    cif = (
        "data_1ABC\n"
        "_entry.id 1ABC\n"
        "loop_\n_entity_poly_seq.entity_id\n_entity_poly_seq.num\n"
        "_entity_poly_seq.mon_id\n"
        "1 1 ALA\n1 2 GLY\n1 3 TRP\n2 1 MET\n2 2 LYS\n"
        "loop_\n_struct_asym.id\n_struct_asym.entity_id\n"
        "A 1\nB 2\n"
        "loop_\n_atom_site.group_PDB\n_atom_site.label_atom_id\n"
        "_atom_site.label_alt_id\n_atom_site.label_comp_id\n"
        "_atom_site.auth_asym_id\n_atom_site.auth_seq_id\n"
        "_atom_site.pdbx_PDB_ins_code\n"
        "ATOM N . ALA A 1 ?\nATOM CA . ALA A 1 ?\n"
        "ATOM CA A GLY A 2 ?\nATOM CA B GLY A 2 ?\n"
        "ATOM CA . MET B 1 ?\nHETATM CA . HOH A 99 ?\n"
    )
    f = tmp_path / "x.cif"
    f.write_text(cif)
    seqres = {r.ids: r for r in read_bioseq(
        spark, str(f), "cif-seqres").collect()}
    assert seqres["1ABC:A"].sequences == "AGW"
    assert seqres["1ABC:B"].sequences == "MK"
    atom = {r.ids: r for r in read_bioseq(
        spark, str(f), "cif-atom").collect()}
    assert atom["1ABC:A"].sequences == "AG"  # TRP unresolved, altLoc once
    assert atom["1ABC:B"].sequences == "M"

    # ragged loop fails closed
    (tmp_path / "bad.cif").write_text(
        "data_x\nloop_\n_a.x\n_a.y\n1 2 3\n"
    )
    with pytest.raises(Exception, match="multiple of"):
        src.read_cif_seqres(spark, str(tmp_path / "bad.cif")).collect()

    # distributed roundtrip: multi-char chain ids, 2 partitions
    df = spark.createDataFrame(
        [("doc1", "ACDEFGHIKLMNPQRSTVWY"), ("doc22", "MKVLA"),
         ("d3", "WW")],
        "ids string, sequences string",
    )
    out = tmp_path / "cif_out"
    src.write_cif_seqres(df.repartition(2), str(out))
    back = {
        r.ids.split(":", 1)[1]: r
        for r in src.read_cif_seqres(spark, str(out)).collect()
    }
    assert back["doc1"].sequences == "ACDEFGHIKLMNPQRSTVWY"
    assert back["doc22"].sequences == "MKVLA"
    assert back["d3"].sequences == "WW"
    # CIF-keyword / tag-like chain ids are rejected loudly
    for badname in ("loop_", "_x", ".", "data_y"):
        with pytest.raises(Exception, match="unquoted CIF"):
            src.write_cif_seqres(
                spark.createDataFrame(
                    [(badname, "MK")], "ids string, sequences string"
                ).coalesce(1),
                str(tmp_path / "bad_out"),
            )


def test_cif_quoted_keywords_are_data_not_syntax():
    """ADVICE r12: a legitimately quoted 'loop_' / '_tag' / 'data_x'
    value must parse as DATA — quoting survives tokenization and only
    unquoted tokens carry CIF syntax."""
    from fireworks_spark.sources import _parse_cif

    text = "\n".join([
        "data_demo",
        "_entry.id 'data_fake'",
        "_note.text 'loop_'",
        "loop_",
        "_pair.key",
        "_pair.val",
        "a '_tag'",
        "b 'loop_'",
        "c 'stop_'",
        "_after.item done",
    ])
    block, items, loops = _parse_cif(text)
    assert block == "demo"
    assert items["_entry.id"] == "data_fake"
    assert items["_note.text"] == "loop_"
    assert items["_after.item"] == "done"
    (headers, rows), = loops
    assert headers == ["_pair.key", "_pair.val"]
    assert rows == [["a", "_tag"], ["b", "loop_"], ["c", "stop_"]]


def test_cif_seqres_num_order_and_microheterogeneity():
    """ADVICE r12 + r13: when every _entity_poly_seq row carries an
    integer num, rows order by num (file order is not authoritative) and
    duplicate nums collapse to the first mon_id; when num is missing or
    non-integer the parser falls back to FILE ORDER keeping every row
    (Biopython's CifSeqresIterator appends in file order without
    consulting num — never fail closed on a column the fallback
    semantics don't need)."""
    from fireworks_spark.sources import _parse_cif_seqres

    text = "\n".join([
        "data_1ABC",
        "_entry.id 1ABC",
        "loop_",
        "_entity_poly_seq.entity_id",
        "_entity_poly_seq.num",
        "_entity_poly_seq.mon_id",
        "1 3 GLY",       # out of order
        "1 1 MET",
        "1 2 ALA",
        "1 2 SER",       # microheterogeneity: first (ALA) wins
        "loop_",
        "_struct_asym.id",
        "_struct_asym.entity_id",
        "A 1",
    ])
    entry, chains = _parse_cif_seqres(text)
    assert entry == "1ABC"
    assert chains == [("A", "MAG")]

    # num unusable on one row -> that entity degrades to file order,
    # every row kept (no num, no microheterogeneity collapse)
    fallback = text.replace("1 3 GLY", "1 ? GLY")
    entry, chains = _parse_cif_seqres(fallback)
    assert chains == [("A", "GMAS")]

    # num column absent entirely -> same file-order fallback
    no_num = "\n".join([
        "data_1ABC",
        "_entry.id 1ABC",
        "loop_",
        "_entity_poly_seq.entity_id",
        "_entity_poly_seq.mon_id",
        "1 MET",
        "1 ALA",
        "1 GLY",
        "loop_",
        "_struct_asym.id",
        "_struct_asym.entity_id",
        "A 1",
    ])
    entry, chains = _parse_cif_seqres(no_num)
    assert chains == [("A", "MAG")]


def test_seqres_parsers_map_modified_residues():
    """ADVICE r13: SEQRES/_entity_poly_seq lines naming modified standard
    residues (MSE, SEP, PTR, ...) map through the extended 3-to-1 table
    to the parent letter — the same _aa_letter routing the atom parsers
    got in r12 — while genuinely unknown names still map to 'X'."""
    from fireworks_spark.sources import _parse_cif_seqres, _parse_pdb_seqres

    pdb = "\n".join([
        "HEADER" + " " * 56 + "1XYZ",
        "SEQRES   1 A    4  MET MSE SEP ZZZ",
    ])
    idcode, chains = _parse_pdb_seqres(pdb)
    assert idcode == "1XYZ"
    assert chains == [("A", "MMSX")]

    cif = "\n".join([
        "data_1XYZ",
        "_entry.id 1XYZ",
        "loop_",
        "_entity_poly_seq.entity_id",
        "_entity_poly_seq.num",
        "_entity_poly_seq.mon_id",
        "1 1 MET",
        "1 2 MSE",
        "1 3 PTR",
        "1 4 ZZZ",
        "loop_",
        "_struct_asym.id",
        "_struct_asym.entity_id",
        "A 1",
    ])
    entry, cchains = _parse_cif_seqres(cif)
    assert entry == "1XYZ"
    assert cchains == [("A", "MMYX")]


def test_pdb_and_cif_atom_keep_hetatm_coded_standard_residues():
    """ADVICE r12: HETATM CA rows whose resName maps through the
    residue tables (MSE = selenomethionine etc.) are polymer residues —
    Bio.SeqIO's atom iterators include them; true ligands stay out."""
    from fireworks_spark.sources import _parse_cif_atom, _parse_pdb_atom

    def atom(rec, name, res, chain, seq):
        line = list(" " * 80)
        line[0:len(rec)] = rec
        line[12:12 + len(name)] = name
        line[17:17 + len(res)] = res
        line[21] = chain
        line[22:26] = f"{seq:4d}"
        return "".join(line)

    text = "\n".join([
        "HEADER" + " " * 56 + "1XYZ",
        atom("ATOM", " CA ", "MET", "A", 1),
        atom("HETATM", " CA ", "MSE", "A", 2),   # selenomethionine -> M
        atom("ATOM", " CA ", "GLY", "A", 3),
        atom("HETATM", " CA ", "HOH", "A", 4),   # water: excluded
        atom("HETATM", " CA ", "SEP", "A", 5),   # phosphoserine -> S
    ])
    idcode, chains = _parse_pdb_atom(text)
    assert idcode == "1XYZ"
    assert chains == [("A", "MMGS")]

    cif = "\n".join([
        "data_1XYZ",
        "_entry.id 1XYZ",
        "loop_",
        "_atom_site.group_PDB",
        "_atom_site.label_atom_id",
        "_atom_site.label_comp_id",
        "_atom_site.label_alt_id",
        "_atom_site.auth_asym_id",
        "_atom_site.auth_seq_id",
        "_atom_site.pdbx_PDB_ins_code",
        "ATOM CA MET . A 1 ?",
        "HETATM CA MSE . A 2 ?",
        "ATOM CA GLY . A 3 ?",
        "HETATM CA HOH . A 4 ?",
        "HETATM CA SEP . A 5 ?",
    ])
    entry, cchains = _parse_cif_atom(cif)
    assert entry == "1XYZ"
    assert cchains == [("A", "MMGS")]
