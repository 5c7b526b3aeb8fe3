"""The rest of the reference Message.read/to format surface (reference
fireworks/core/message.py:13-17 read_methods, :13 to_methods, :156-235).

Three tiers, chosen per format by what scales:

1. **Spark-native** (parquet/csv/json/orc/tsv): `io_formats.read_table/
   write_table` — already distributed, schema-pushing, pruned.
2. **Custom file-parallel connectors** (this module): formats Spark lacks a
   source for but whose codec ships in every executor's Python with no
   extra dependency — Stata .dta (pandas' built-in StataReader/Writer),
   Excel .xlsx (stdlib zipfile + OOXML templates on write, iterparse on
   read — no openpyxl), msgpack (the codec implemented from the public
   spec — pandas dropped its own), pandas pickle parts, and well-formed
   HTML tables.
   Every one, like the feather connector (io_formats.py) and the
   sequence formats (sources.py), is built on the shared skeleton in
   connector.py: one task per file on read (``read_files``); on write,
   one file per partition (pickle: per Arrow batch) rendered under a
   dot-prefixed scratch name and renamed into a staging directory
   (``write_parts``), which ``publish.swap_dir`` swaps into place after
   checking every reported file landed. Writing to an existing path
   REPLACES its contents, as pandas' ``to_*`` do, and a write that
   fails leaves the previous output readable. The driver touches only
   a schema probe.
3. **Driver-edge renders** (dict/records/string/latex): human-facing,
   inherently small outputs — explicit row-capped collects that refuse to
   silently truncate.

Formats whose backing library is absent from the container or that pandas
itself dropped (hdf, gbq, clipboard, sparse) raise
NotImplementedError with the recorded reason — a decision, not an
oversight; `UNSUPPORTED` is the registry.

`message_read` / `message_to` are the single dispatch points covering every
name the reference accepts.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fireworks_spark.connector import read_files, source_files, write_parts

# --------------------------------------------------------------------------
# Stata .dta — file-parallel connector (pandas codec, no external deps)
# --------------------------------------------------------------------------


def write_stata(df: DataFrame, path: str, version: int = 118) -> None:
    """Distributed Stata write: each partition becomes one part-*.dta under
    ``path``. Version 118 (Stata 14+) for unicode + strL long strings.

    The .dta header carries the observation count, so the format has no
    incremental writer — each task buffers its own partition (bound
    partition size accordingly); across partitions the write is fully
    parallel. Stata has no 64-bit integer: values beyond int32 raise in
    the codec rather than corrupt silently."""

    def render(batches, part):
        import pandas as pd

        with part.open() as fh:
            pd.concat(list(batches), ignore_index=True).to_stata(
                fh, write_index=False, version=version
            )

    write_parts(df, path, "dta", render)


def read_stata(spark: SparkSession, path: str) -> DataFrame:
    """Distributed Stata read: one .dta file per task, streamed in chunks
    through pandas' StataReader (the codec supports chunked iteration, so
    task memory stays at one chunk). The driver reads a single-row probe of
    the first file for the schema; files must share one schema."""
    import pandas as pd

    files = source_files(path, ".dta", (".dta",))
    with pd.read_stata(files[0], chunksize=1) as rdr:
        probe = next(iter(rdr))

    def parse(f):
        import pandas as pd

        with pd.read_stata(f, chunksize=50_000) as rdr:
            yield from rdr

    schema = spark.createDataFrame(probe).schema
    return read_files(spark, files, ".dta", parse, schema)


# --------------------------------------------------------------------------
# pandas pickle parts — file-parallel connector
# --------------------------------------------------------------------------


def write_pickle(df: DataFrame, path: str) -> None:
    """Distributed pickle write: one part-*.pkl per Arrow batch (pickle is a
    single-object format, so per-batch files keep task memory at one batch
    instead of buffering the partition)."""

    def render(batches, part):
        import uuid

        for i, b in enumerate(batches):
            name = f"part-{part.pid:05d}-{i:04d}-{uuid.uuid4().hex}.pkl"
            with part.open(name) as fh:
                b.to_pickle(fh)

    write_parts(df, path, "pkl", render)


def read_pickle(spark: SparkSession, path: str) -> DataFrame:
    """Distributed pickle read: one part file per task. The schema probe
    reads the first part on the driver (bounded: parts are batch-sized by
    construction of write_pickle)."""
    import pandas as pd

    files = source_files(path, ".pkl", (".pkl",))
    schema = spark.createDataFrame(pd.read_pickle(files[0])).schema
    return read_files(spark, files, ".pkl", pd.read_pickle, schema)


# --------------------------------------------------------------------------
# HTML tables — distributed writer + JVM-regexp reader
# --------------------------------------------------------------------------
#
# pandas' read_html needs lxml/bs4 (absent here), but the HTML the engine
# itself WRITES — and any machine-generated <table> markup — is regular
# enough for pure JVM regexp extraction, which keeps the parse distributed
# and codegen'd instead of per-row Python.


def _esc_html(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def write_html(df: DataFrame, path: str) -> None:
    """Distributed HTML write: each partition streams its Arrow batches as
    consecutive <table> elements into one part-*.html (one batch = one
    table, so nothing buffers beyond a batch). The markup is emitted
    directly (not pandas to_html, which also rewrites control characters
    like newlines into backslash escapes — lossy for a data roundtrip):
    cells entity-escape exactly &, <, > and nulls render as NaN, which
    read_html_tables reverses."""

    def render(batches, part):
        import pandas as pd

        with part.open(text=True) as fh:
            for b in batches:
                out = ["<table>\n<thead>\n<tr>"]
                out += [f"<th>{_esc_html(str(c))}</th>" for c in b.columns]
                out.append("</tr>\n</thead>\n<tbody>\n")
                for tup in b.itertuples(index=False, name=None):
                    out.append("<tr>")
                    out += [
                        "<td>%s</td>"
                        % ("NaN" if pd.isna(v) else _esc_html(str(v)))
                        for v in tup
                    ]
                    out.append("</tr>\n")
                out.append("</tbody>\n</table>\n")
                fh.write("".join(out))

    write_parts(df, path, "html", render)


def _unescape(col):
    """Reverse the 5 entities pandas' escaper emits (&amp; last so freshly
    produced '&' can't re-combine)."""
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),
    ):
        col = F.replace(col, F.lit(ent), F.lit(ch))
    return col


def read_html_tables(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """Distributed read of well-formed <table> markup (as written by
    write_html / pandas to_html): one row per file → explode tables →
    explode <tbody> rows → one column per <th> header cell. The whole parse
    is JVM regexp/array expressions; the driver only collects the header
    row of the first table (bounded: one row of column names).

    All columns arrive as strings; pass ``schema`` ("name type, ...") to
    cast, with the pandas null renderings (NaN/None/empty) nulled first.
    Hand-authored HTML with nested tables or attributes inside cells is out
    of scope — use an HTML parser at the edge for that."""
    raw = spark.read.text(path, wholetext=True)
    tables = raw.select(
        F.explode(
            F.regexp_extract_all(
                F.col("value"), F.lit(r"(?s)<table[^>]*>.*?</table>"), F.lit(0)
            )
        ).alias("t")
    )
    header = (
        tables.select(
            F.regexp_extract_all(
                F.regexp_extract(F.col("t"), r"(?s)<thead>(.*?)</thead>", 1),
                F.lit(r"(?s)<th[^>]*>(.*?)</th>"),
                F.lit(1),
            ).alias("h")
        )
        .limit(1)
        .collect()
    )
    if not header or not header[0].h:
        raise ValueError(f"no parseable <table> under {path}")
    names = header[0].h
    trs = tables.select(
        F.explode(
            F.regexp_extract_all(
                F.regexp_extract(F.col("t"), r"(?s)<tbody>(.*?)</tbody>", 1),
                F.lit(r"(?s)<tr[^>]*>(.*?)</tr>"),
                F.lit(1),
            )
        ).alias("tr")
    )
    rows = trs.select(
        F.regexp_extract_all(
            F.col("tr"), F.lit(r"(?s)<td[^>]*>(.*?)</td>"), F.lit(1)
        ).alias("c")
    )
    out = rows.select(
        *[
            _unescape(F.element_at("c", i + 1)).alias(n)
            for i, n in enumerate(names)
        ]
    )
    if schema:
        casts = [s.strip().split(None, 1) for s in schema.split(",")]
        for name, typ in casts:
            c = F.col(name)
            c = F.when(c.isin("NaN", "None", "<NA>", "NaT", ""), None).otherwise(c)
            out = out.withColumn(name, c.cast(typ))
    return out


# --------------------------------------------------------------------------
# driver-edge renders (inherently small, human-facing outputs)
# --------------------------------------------------------------------------


def _edge_pandas(df: DataFrame, max_rows: int):
    """Row-capped driver materialization that refuses to truncate silently."""
    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(
            f"result exceeds max_rows={max_rows}; edge renders (dict/records/"
            f"string/latex) are for small outputs — raise max_rows explicitly "
            f"or use a distributed sink (parquet/csv/stata/html)"
        )
    return pdf


def to_dict(df: DataFrame, max_rows: int = 10_000) -> dict:
    return _edge_pandas(df, max_rows).to_dict()


def to_records(df: DataFrame, max_rows: int = 10_000):
    return _edge_pandas(df, max_rows).to_records(index=False)


def to_string(df: DataFrame, max_rows: int = 10_000) -> str:
    return _edge_pandas(df, max_rows).to_string(index=False)


def to_latex(df: DataFrame, max_rows: int = 10_000) -> str:
    return _edge_pandas(df, max_rows).to_latex(index=False)


# --------------------------------------------------------------------------
# Excel .xlsx — dependency-free file-parallel connector (stdlib zip + XML)
# --------------------------------------------------------------------------

_XLSX_STATIC = {
    "[Content_Types].xml": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        "</Types>"
    ),
    "_rels/.rels": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    ),
    "xl/workbook.xml": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    ),
    "xl/_rels/workbook.xml.rels": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    ),
}


_XML_ILLEGAL = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f]")


def _xlsx_cell(v) -> str:
    """One <c> element. Strings go as inline strings (no sharedStrings
    table — each task writes self-contained XML with no cross-file state);
    ints/floats as numbers (repr(float) is shortest-roundtrip, so the
    value survives exactly); bools as t="b". None/NaN -> an empty <c/>
    placeholder, keeping every row's cells positionally aligned without
    per-cell r= coordinates."""
    import math

    if v is None:
        return "<c/>"
    if isinstance(v, bool):
        return f'<c t="b"><v>{1 if v else 0}</v></c>'
    if isinstance(v, int):
        return f"<c><v>{v}</v></c>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<c/>"
        return f"<c><v>{v!r}</v></c>"
    s = (
        str(v)
        .replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
    )
    # XML 1.0 forbids most C0 control characters even escaped; real crawl
    # text contains them, and leaving them in would write a file the
    # ET.iterparse reader then rejects. Strip them (openpyxl does the same).
    s = _XML_ILLEGAL.sub("", s)
    return f'<c t="inlineStr"><is><t xml:space="preserve">{s}</t></is></c>'


def write_excel(df: DataFrame, path: str) -> None:
    """Distributed .xlsx write, no external libraries: each partition
    becomes one part-*.xlsx under ``path`` (a zip of OOXML parts built
    with stdlib zipfile + string templates). The worksheet streams into
    the zip entry row by row — task memory stays at one Arrow batch, not
    the whole partition. Row 1 is the header. Supported cell types:
    string, int, float, bool, null (reference message.py to_excel parity;
    richer types should go through parquet/feather).

    Cells omit the r= coordinate (readers, including this connector and
    pandas, infer positions) — sequential cells in a sequential row are
    valid OOXML and keep the per-cell payload minimal."""

    def render(batches, part):
        import zipfile

        import pandas as pd

        with part.open() as fh, zipfile.ZipFile(
            fh, "w", compression=zipfile.ZIP_DEFLATED
        ) as zf:
            for name, xml in _XLSX_STATIC.items():
                zf.writestr(name, xml)
            sheet_xml = zipfile.ZipInfo("xl/worksheets/sheet1.xml")
            with zf.open(sheet_xml, "w") as sheet:
                sheet.write(
                    b'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                    b'<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
                    b"<sheetData>"
                )
                header = None
                for b in batches:
                    if header is None:
                        header = "".join(_xlsx_cell(c) for c in b.columns)
                        sheet.write(f"<row>{header}</row>".encode())
                    for rec in b.itertuples(index=False):
                        cells = "".join(
                            _xlsx_cell(None if pd.isna(v) else v) for v in rec
                        )
                        sheet.write(f"<row>{cells}</row>".encode())
                sheet.write(b"</sheetData></worksheet>")

    write_parts(df, path, "xlsx", render)


def _xlsx_rows(fname: str):
    """Yield rows (lists of str/float/bool/None) from sheet1.xml,
    iterparse-streamed so task memory is one row, not the sheet."""
    import xml.etree.ElementTree as ET
    import zipfile

    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(fname) as zf:
        with zf.open("xl/worksheets/sheet1.xml") as fh:
            row = None
            for ev, el in ET.iterparse(fh, events=("start", "end")):
                if ev == "start" and el.tag == f"{ns}row":
                    row = []
                elif ev == "end" and el.tag == f"{ns}c":
                    t = el.get("t")
                    if t == "inlineStr":
                        tnode = el.find(f"{ns}is/{ns}t")
                        row.append("" if tnode is None else (tnode.text or ""))
                    else:
                        vnode = el.find(f"{ns}v")
                        if vnode is None or vnode.text is None:
                            row.append(None)
                        elif t == "b":
                            row.append(vnode.text == "1")
                        else:
                            row.append(float(vnode.text))
                    el.clear()
                elif ev == "end" and el.tag == f"{ns}row":
                    yield row
                    el.clear()


def read_excel(spark: SparkSession, path: str) -> DataFrame:
    """Distributed .xlsx read: one file per task, iterparse-streamed (no
    openpyxl). Row 1 of each sheet is the header; the declared schema
    comes from a driver-side probe of the first file's first data row
    (files must share one schema). Numeric cells parse as double and cast
    to the probed type, so integer columns come back as longs."""
    import pandas as pd

    files = source_files(path, ".xlsx", (".xlsx",))
    it = _xlsx_rows(files[0])
    header = [str(c) for c in next(it)]

    # Probe up to 200 data rows: a column is bigint only if EVERY sampled
    # value is an integral float (a lone 1.0 first row must not narrow a
    # genuine double column); any string makes it string; all-null falls
    # back to string.
    kinds = [None] * len(header)
    for _ in range(200):
        row = next(it, None)
        if row is None:
            break
        for i, v in enumerate(row[: len(header)]):
            if v is None:
                continue
            if isinstance(v, bool):
                k = "boolean"
            elif isinstance(v, float):
                k = "bigint" if v == int(v) else "double"
            else:
                k = "string"
            prev = kinds[i]
            if prev is None or prev == k:
                kinds[i] = k
            elif {prev, k} == {"bigint", "double"}:
                kinds[i] = "double"
            else:
                kinds[i] = "string"
    kinds = [k or "string" for k in kinds]
    schema = ", ".join(
        f"`{c}` {k}" for c, k in zip(header, kinds)
    )

    def parse(f):
        rows = _xlsx_rows(f)
        cols = [str(c) for c in next(rows)]
        pdf = pd.DataFrame(list(rows), columns=cols)
        for c, k in zip(header, kinds):
            if k == "bigint":
                pdf[c] = pdf[c].astype("Int64")
            elif k == "string":
                pdf[c] = pdf[c].map(lambda v: v if v is None else str(v))
        return pdf[header]

    return read_files(spark, files, ".xlsx", parse, schema)


# --------------------------------------------------------------------------
# msgpack — dependency-free file-parallel connector (spec-implemented codec)
# --------------------------------------------------------------------------
#
# pandas dropped to_msgpack/read_msgpack in 1.0, so the reference's
# Message.to('msgpack') has no library path anywhere; the format itself is
# tiny (https://github.com/msgpack/msgpack/blob/master/spec.md), so the
# connector ships its own codec for the row-record subset: nil, bool,
# int64, float64, str, bin, array, map. Layout mirrors the pickle
# connector: a stream of row-maps per part file.


def _mp_pack(o, out: bytearray) -> None:
    import struct

    if o is None:
        out.append(0xC0)
    elif o is True:
        out.append(0xC3)
    elif o is False:
        out.append(0xC2)
    elif isinstance(o, int):
        if 0 <= o <= 0x7F:
            out.append(o)
        elif -32 <= o < 0:
            out.append(0x100 + o)
        else:
            out.append(0xD3)
            out += struct.pack(">q", o)
    elif isinstance(o, float):
        out.append(0xCB)
        out += struct.pack(">d", o)
    elif isinstance(o, str):
        b = o.encode("utf-8")
        if len(b) <= 31:
            out.append(0xA0 | len(b))
        elif len(b) <= 0xFFFF:
            out.append(0xDA)
            out += struct.pack(">H", len(b))
        else:
            out.append(0xDB)
            out += struct.pack(">I", len(b))
        out += b
    elif isinstance(o, (bytes, bytearray)):
        out.append(0xC6)
        out += struct.pack(">I", len(o))
        out += bytes(o)
    elif isinstance(o, (list, tuple)):
        if len(o) <= 15:
            out.append(0x90 | len(o))
        else:
            out.append(0xDD)
            out += struct.pack(">I", len(o))
        for v in o:
            _mp_pack(v, out)
    elif isinstance(o, dict):
        if len(o) <= 15:
            out.append(0x80 | len(o))
        else:
            out.append(0xDF)
            out += struct.pack(">I", len(o))
        for k, v in o.items():
            _mp_pack(k, out)
            _mp_pack(v, out)
    else:
        raise TypeError(f"msgpack connector cannot encode {type(o)}")


def _mp_unpack(buf: bytes, pos: int):
    import struct

    b = buf[pos]
    pos += 1
    if b <= 0x7F:
        return b, pos
    if b >= 0xE0:
        return b - 0x100, pos
    if 0xA0 <= b <= 0xBF:
        n = b & 0x1F
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if 0x90 <= b <= 0x9F:
        n = b & 0x0F
        out = []
        for _ in range(n):
            v, pos = _mp_unpack(buf, pos)
            out.append(v)
        return out, pos
    if 0x80 <= b <= 0x8F:
        n = b & 0x0F
        d = {}
        for _ in range(n):
            k, pos = _mp_unpack(buf, pos)
            v, pos = _mp_unpack(buf, pos)
            d[k] = v
        return d, pos
    if b == 0xC0:
        return None, pos
    if b == 0xC2:
        return False, pos
    if b == 0xC3:
        return True, pos
    if b == 0xCB:
        return struct.unpack_from(">d", buf, pos)[0], pos + 8
    if b == 0xCA:  # float32 (standard encoders emit it for narrow floats)
        return struct.unpack_from(">f", buf, pos)[0], pos + 4
    # full uint8..uint64 / int8..int64 families: write_msgpack only emits
    # fixint/0xD3, but standard encoders (msgpack-python) pick the
    # narrowest representation, so the reader must accept them all
    if b == 0xCC:
        return buf[pos], pos + 1
    if b == 0xCD:
        return struct.unpack_from(">H", buf, pos)[0], pos + 2
    if b == 0xCE:
        return struct.unpack_from(">I", buf, pos)[0], pos + 4
    if b == 0xCF:
        return struct.unpack_from(">Q", buf, pos)[0], pos + 8
    if b == 0xD0:
        return struct.unpack_from(">b", buf, pos)[0], pos + 1
    if b == 0xD1:
        return struct.unpack_from(">h", buf, pos)[0], pos + 2
    if b == 0xD2:
        return struct.unpack_from(">i", buf, pos)[0], pos + 4
    if b == 0xD3:
        return struct.unpack_from(">q", buf, pos)[0], pos + 8
    if b == 0xD9:  # str8
        n = buf[pos]
        return buf[pos + 1 : pos + 1 + n].decode("utf-8"), pos + 1 + n
    if b == 0xDA:
        n = struct.unpack_from(">H", buf, pos)[0]
        return buf[pos + 2 : pos + 2 + n].decode("utf-8"), pos + 2 + n
    if b == 0xDB:
        n = struct.unpack_from(">I", buf, pos)[0]
        return buf[pos + 4 : pos + 4 + n].decode("utf-8"), pos + 4 + n
    if b == 0xC4:  # bin8
        n = buf[pos]
        return bytes(buf[pos + 1 : pos + 1 + n]), pos + 1 + n
    if b == 0xC5:  # bin16
        n = struct.unpack_from(">H", buf, pos)[0]
        return bytes(buf[pos + 2 : pos + 2 + n]), pos + 2 + n
    if b == 0xC6:
        n = struct.unpack_from(">I", buf, pos)[0]
        return bytes(buf[pos + 4 : pos + 4 + n]), pos + 4 + n
    if b == 0xDC:  # array16
        n = struct.unpack_from(">H", buf, pos)[0]
        pos += 2
        out = []
        for _ in range(n):
            v, pos = _mp_unpack(buf, pos)
            out.append(v)
        return out, pos
    if b == 0xDE:  # map16
        n = struct.unpack_from(">H", buf, pos)[0]
        pos += 2
        d = {}
        for _ in range(n):
            k, pos = _mp_unpack(buf, pos)
            v, pos = _mp_unpack(buf, pos)
            d[k] = v
        return d, pos
    if b == 0xDD:
        n = struct.unpack_from(">I", buf, pos)[0]
        pos += 4
        out = []
        for _ in range(n):
            v, pos = _mp_unpack(buf, pos)
            out.append(v)
        return out, pos
    if b == 0xDF:
        n = struct.unpack_from(">I", buf, pos)[0]
        pos += 4
        d = {}
        for _ in range(n):
            k, pos = _mp_unpack(buf, pos)
            v, pos = _mp_unpack(buf, pos)
            d[k] = v
        return d, pos
    raise ValueError(f"msgpack connector cannot decode type byte {b:#x}")


def write_msgpack(df: DataFrame, path: str) -> None:
    """Distributed msgpack write: each partition streams its rows as
    consecutive row-maps into one part-*.msgpack (appended per Arrow
    batch — task memory stays at one batch). Values: int/float/str/bool/
    bytes/arrays/None; richer types should go through parquet."""

    def render(batches, part):
        import pandas as pd

        with part.open() as fh:
            for b in batches:
                cols = list(b.columns)
                buf = bytearray()
                for rec in b.itertuples(index=False):
                    d = {}
                    for c, v in zip(cols, rec):
                        if isinstance(v, (list, tuple)) or (
                            hasattr(v, "tolist") and hasattr(v, "__len__")
                        ):  # array cell
                            v = [
                                x.item() if hasattr(x, "item") else x
                                for x in v
                            ]
                        elif hasattr(v, "item"):  # numpy scalar
                            v = v.item()
                            if isinstance(v, float) and v != v:
                                v = None
                        elif v is not None and not isinstance(
                            v, (dict, str, bytes)
                        ) and pd.isna(v):
                            v = None
                        d[c] = v
                    _mp_pack(d, buf)
                fh.write(bytes(buf))

    write_parts(df, path, "msgpack", render)


def read_msgpack(spark: SparkSession, path: str) -> DataFrame:
    """Distributed msgpack read: one part file per task; the driver decodes
    only the first ~200 row-maps of the first file for the schema probe
    (bounded driver work). Nulls are skipped during inference so a null
    cell in the first record cannot poison a column's type (the
    read_excel probe's rule, including its bigint->double widening);
    all-null columns fall back to string."""
    import pandas as pd

    files = source_files(path, ".msgpack", (".msgpack",))
    with open(files[0], "rb") as fh:
        buf = fh.read()
    cols: list = []  # insertion-ordered union of keys over probed records
    kinds: dict = {}
    pos = 0
    for _ in range(200):
        if pos >= len(buf):
            break
        rec, pos = _mp_unpack(buf, pos)
        for key, v in rec.items():
            if key not in kinds:
                cols.append(key)
                kinds[key] = None
            if v is None:
                continue
            if isinstance(v, bool):
                k = "boolean"
            elif isinstance(v, int):
                k = "bigint"
            elif isinstance(v, float):
                k = "double"
            elif isinstance(v, (bytes, bytearray)):
                k = "binary"
            elif isinstance(v, list):
                elem = None
                for x in v:
                    if x is None:
                        continue
                    e = (
                        "boolean"
                        if isinstance(x, bool)
                        else "bigint"
                        if isinstance(x, int)
                        else "double"
                        if isinstance(x, float)
                        else "string"
                    )
                    if elem is None or elem == e:
                        elem = e
                    elif {elem, e} == {"bigint", "double"}:
                        elem = "double"
                    else:
                        elem = "string"
                k = f"array<{elem or 'string'}>"
            else:
                k = "string"
            prev = kinds[key]
            if prev is None or prev == k:
                kinds[key] = k
            elif {prev, k} == {"bigint", "double"}:
                kinds[key] = "double"
            else:
                kinds[key] = "string"
    schema = ", ".join(f"`{c}` {kinds[c] or 'string'}" for c in cols)

    # columns widened to string by a mixed-type probe carry non-string
    # values in the data; stringify them so the Arrow cast can't fail
    str_cols = [c for c in cols if (kinds[c] or "string") == "string"]

    def parse(f):
        with open(f, "rb") as fh:
            fbuf = fh.read()
        fpos, recs = 0, []
        while fpos < len(fbuf):
            rec, fpos = _mp_unpack(fbuf, fpos)
            recs.append(rec)
        pdf = pd.DataFrame(recs)
        for c in str_cols:
            if c in pdf.columns:
                pdf[c] = pdf[c].map(
                    lambda v: v if v is None or isinstance(v, str) else str(v)
                )
        return pdf

    return read_files(spark, files, ".msgpack", parse, schema)


# --------------------------------------------------------------------------
# unified Message.read / Message.to dispatch
# --------------------------------------------------------------------------

def _savez_coo_part(
    dirpath: str,
    base: str,
    nr: int,
    nc: int,
    row,
    col,
    data,
    direct: bool,
) -> str:
    """Write one COO ``.npz`` part. ``direct=False`` (POSIX): write to a
    dot-hidden scratch name and rename into place, so a task attempt
    killed mid-write can never leave a truncated visible part that sorts
    before the completed retry's file in the one-per-pid dedup.
    ``direct=True`` (object-store semantics): write straight to the final
    name — PUT visibility means a killed writer's partial object is never
    listable, and rename may not exist at all. Runs executor-side; the
    caller decides ``direct`` on the driver and ships the bool in the
    task closure."""
    import numpy as np

    fname = os.path.join(dirpath, base)
    target = fname if direct else os.path.join(dirpath, "." + base)
    np.savez_compressed(
        target,
        format=np.array(b"coo"),
        shape=np.array([nr, nc], dtype=np.int64),
        row=row,
        col=col,
        data=data,
    )
    if not direct:
        os.rename(target, fname)
    return fname


def write_sparse(
    df: DataFrame,
    path: str,
    row_col: str,
    col_col: str,
    val_col: str,
    shape: tuple[int, int] | None = None,
    commit_protocol: str = "rename",
    keep_generations: int = 1,
) -> None:
    """Distributed sparse-matrix write: (row, col, value) triplets become
    one scipy-compatible COO ``part-*.npz`` per partition (Message.to
    'sparse', reference message.py:180-235 — pandas dropped its sparse
    frames, so the survivable sparse interchange is scipy's save_npz
    layout, which is plain numpy arrays in a zip: format/shape/row/col/
    data — written here with numpy alone, loadable by scipy.sparse.
    load_npz and by :func:`read_sparse`).

    ``shape`` pins the global matrix dims in every part (scipy requires
    it to stack parts); default = (max row + 1, max col + 1) computed in
    one tiny aggregate. Each task writes only its own triplets — fully
    parallel, no driver materialization.

    Durability contract (``commit_protocol="rename"``, default): the
    two-rename swap of :func:`fireworks_spark.publish.swap_dir`, atomic
    against JOB failure only (a failed Spark job leaves the previous
    matrix intact). It is NOT atomic against a hard process crash
    between the two renames and offers no isolation between CONCURRENT
    writers to the same path — serialize writers externally.

    ``commit_protocol="manifest"`` removes the rename-semantics
    assumption entirely (fireworks_spark.publish): parts land in a new
    generation directory UNDER ``path`` and become visible only when the
    single-object manifest write commits them — object-store-safe, no
    crash window at all (a writer that dies pre-commit leaves the
    previous generation serving; its orphan files are swept by the next
    successful commit). read_sparse auto-detects manifested directories.
    ``keep_generations`` retains that many committed generations per
    write (default 1 = newest only) — raise to 2+ when concurrent
    readers may resolve the manifest while a writer commits, the
    standard snapshot-retention trade.

    Filesystem contract: tasks write into a directory created by the
    driver, so ``path`` must be on a filesystem shared by driver and
    executors (always true on local master; on a cluster NFS/fuse — or
    an object-store mount with ``commit_protocol="manifest"``, since
    that protocol goes fully rename-free under object-store semantics:
    when ``publish.object_store_semantics(path)`` is true — a
    ``scheme://`` path or ``FIREWORKS_OBJECT_STORE=1`` — parts are
    written straight to their final names (PUT visibility makes the
    POSIX scratch+rename truncation guard unnecessary) and the manifest
    commits with one direct write). A remote executor writing into its
    own local disk is detected after the job: every part a task reported
    must be visible to the driver, else this raises RuntimeError
    (:func:`fireworks_spark.publish.settle_parts`)."""
    import numpy as np

    from fireworks_spark import publish

    if commit_protocol not in ("rename", "manifest"):
        raise ValueError(
            f"write_sparse: unknown commit_protocol {commit_protocol!r} "
            "(expected 'rename' or 'manifest')"
        )
    if shape is None:
        r = df.agg(
            F.max(row_col).alias("r"), F.max(col_col).alias("c")
        ).collect()[0]
        if r["r"] is None or r["c"] is None:
            raise ValueError(
                "write_sparse: input has no triplets and shape was not "
                "given — pass shape=(rows, cols) to write an empty matrix"
            )
        shape = (int(r["r"]) + 1, int(r["c"]) + 1)
    nr, nc = int(shape[0]), int(shape[1])
    # Decided driver-side and captured in the task closure: executors must
    # not re-derive it (their env can differ from the driver's). Direct
    # part writes apply only under the manifest protocol — the rename
    # protocol's tmp dir is visible-by-swap, so its parts keep the POSIX
    # truncation guard even when the object-store switch is set (that
    # combination is a user error the loud two-rename failure surfaces).
    direct_put = (
        commit_protocol == "manifest" and publish.object_store_semantics(path)
    )

    def stage(tmp):
        def _write(batches):
            import uuid

            import pandas as pd
            from pyspark import TaskContext

            parts = [b for b in batches if len(b)]
            names = []
            if parts:
                pdf = pd.concat(parts, ignore_index=True)
                pid = TaskContext.get().partitionId()
                base = f"part-{pid:05d}-{uuid.uuid4().hex}.npz"
                # rationale for direct_put in _savez_coo_part
                _savez_coo_part(
                    tmp,
                    base,
                    nr,
                    nc,
                    pdf[row_col].to_numpy(dtype=np.int64),
                    pdf[col_col].to_numpy(dtype=np.int64),
                    pdf[val_col].to_numpy(dtype=np.float64),
                    direct=direct_put,
                )
                names = [base]
            yield pd.DataFrame({"name": pd.Series(names, dtype=object)})

        names = [
            r["name"]
            for r in df.select(row_col, col_col, val_col)
            .mapInPandas(_write, "name string")
            .collect()
        ]
        if not names:
            # all partitions were empty (legal when shape pins the dims):
            # write one zero-nnz part so read_sparse round-trips the shape
            e = np.array([], dtype=np.int64)
            names = ["part-00000-empty.npz"]
            _savez_coo_part(
                tmp, names[0], nr, nc, e, e, e.astype(np.float64),
                direct=direct_put,
            )
        return names

    if commit_protocol == "rename":
        publish.swap_dir(path, stage)
        return
    # Commit = one manifest write naming the checked parts; the generation
    # directory itself never moves (object-store-safe).
    gen, tmp = publish.new_generation(path)
    try:
        names = stage(tmp)
        publish.settle_parts(tmp, names)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    publish.commit_generation(
        path, gen, tmp,
        sorted(os.path.join(tmp, n) for n in names),
        keep=keep_generations,
    )


def read_sparse(spark: SparkSession, path: str) -> DataFrame:
    """Distributed sparse-matrix read: one COO .npz per task back to
    (row, col, value) triplets (Message.read counterpart of
    :func:`write_sparse`; also reads scipy.sparse.save_npz COO output
    directly). CSR/CSC parts raise inside the task — convert with scipy
    before handing them to a cluster. Manifested directories (written
    with ``commit_protocol="manifest"``) read ONLY the newest committed
    generation's parts — a crashed writer's uncommitted files are
    invisible by construction. A plain directory keeps one part per
    partition id (:func:`fireworks_spark.connector.source_files`), so a
    zombie attempt's duplicate part is never double-counted, while
    files outside write_sparse's part scheme are all read."""
    from fireworks_spark import publish

    if os.path.isdir(path) and publish.has_manifest(path):
        path = [f for f in publish.current_files(path) if f.endswith(".npz")]
    return read_files(
        spark, path, ".npz", _read_coo, "row long, col long, value double",
        exts=(".npz",),
    )


def _read_coo(f: str):
    """One COO ``.npz`` part as (row, col, value) triplets."""
    import numpy as np
    import pandas as pd

    z = np.load(f)
    fmt = bytes(z["format"]).decode()
    if fmt != "coo":
        raise ValueError(
            f"{f}: sparse format {fmt!r}; only COO parts are "
            "readable without scipy — convert via "
            "scipy.sparse.coo_matrix first"
        )
    return pd.DataFrame(
        {
            "row": z["row"].astype("int64"),
            "col": z["col"].astype("int64"),
            "value": z["data"].astype("float64"),
        }
    )


UNSUPPORTED: dict[str, str] = {
    "hdf": "pytables not in the container; no distributed reader",
    "gbq": "external BigQuery service; out of scope for a local engine",
    "clipboard": "needs a desktop clipboard; meaningless on a cluster",
}

_SPARK_NATIVE = {"parquet", "csv", "json", "orc"}


def message_read(
    spark: SparkSession, fmt: str, path: str = None, **kw
) -> DataFrame:
    """Message.read parity (reference message.py:156-178 read_methods:
    json, csv, excel, hdf, parquet, pickle, sql_table, stata, table)."""
    from fireworks_spark import database, io_formats

    fmt = fmt.lower()
    if fmt in _SPARK_NATIVE:
        return io_formats.read_table(spark, path, fmt, **kw)
    if fmt == "table":  # pandas read_table == TSV
        return io_formats.read_table(spark, path, "csv", sep="\t", **kw)
    if fmt == "feather":
        return io_formats.read_feather(spark, path)
    if fmt == "stata":
        return read_stata(spark, path)
    if fmt == "excel":
        return read_excel(spark, path)
    if fmt == "msgpack":
        return read_msgpack(spark, path)
    if fmt == "pickle":
        return read_pickle(spark, path)
    if fmt == "html":
        return read_html_tables(spark, path, **kw)
    if fmt == "sql_table":
        return database.read_jdbc(spark, kw.pop("url"), kw.pop("table"), **kw)
    if fmt == "sparse":
        return read_sparse(spark, path)
    if fmt in UNSUPPORTED:
        raise NotImplementedError(f"read {fmt!r}: {UNSUPPORTED[fmt]}")
    raise ValueError(f"unknown read format {fmt!r}")


def message_to(df: DataFrame, fmt: str, path: str = None, **kw):
    """Message.to parity (reference message.py:180-235 to_methods: csv,
    json, dict, html, feather, latex, stata, msgpack, gbq, records, sparse,
    dense, string, clipboard + to_sql/to_excel/to_pickle wrappers).
    Distributed formats write to ``path`` and return None; edge renders
    return the rendered value."""
    from fireworks_spark import database, io_formats

    fmt = fmt.lower()
    if fmt in _SPARK_NATIVE:
        return io_formats.write_table(df, path, fmt, **kw)
    if fmt == "feather":
        return io_formats.write_feather(df, path, **kw)
    if fmt == "stata":
        return write_stata(df, path, **kw)
    if fmt == "excel":
        return write_excel(df, path)
    if fmt == "msgpack":
        return write_msgpack(df, path)
    if fmt == "pickle":
        return write_pickle(df, path)
    if fmt == "html":
        return write_html(df, path)
    if fmt == "sql":
        return database.write_jdbc(df, kw.pop("url"), kw.pop("table"), **kw)
    if fmt == "dict":
        return to_dict(df, **kw)
    if fmt == "records":
        return to_records(df, **kw)
    if fmt == "string":
        return to_string(df, **kw)
    if fmt == "latex":
        return to_latex(df, **kw)
    if fmt == "sparse":
        return write_sparse(df, path, **kw)
    if fmt == "dense":
        return df  # Messages are always dense here (reference to('dense'))
    if fmt in UNSUPPORTED:
        raise NotImplementedError(f"to {fmt!r}: {UNSUPPORTED[fmt]}")
    raise ValueError(f"unknown to format {fmt!r}")
