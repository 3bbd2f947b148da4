"""Dialect-parameterized CSV source (reference: metadata.rb:1196-1203
csv_options, :786-795 each_row, :726-779 embedded_metadata).

Design: the data path is Spark-native — ``spark.read.text`` + zipWithIndex for
stable 1-based source line numbers (partition order = byte-offset order, so
numbering matches file order without a shuffle), then one Arrow-batched
``mapInPandas`` stage that applies the dialect (delimiter/quote/doubleQuote/
trim/skip*) per line batch. The header region (skipRows + headerRowCount
lines, O(KB)) is read driver-side for embedded-metadata extraction, mirroring
the reference's streaming header consumption.

Quoted fields spanning physical lines break the line-per-row fast path; a
cheap driver-side quote-parity scan detects them and falls back to a
whole-file streaming parse (reference each_row semantics, metadata.rb:786-795
— Ruby CSV handles embedded newlines natively). The fallback is driver-bound
by design: multiline CSV is not line-splittable, and at web scale inputs
arrive as pages (html binary) where rows are page-local and never split.
"""

from __future__ import annotations

import csv as _csv
import io
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (ArrayType, LongType, StringType, StructField,
                               StructType)

from ..csvw.model import Dialect

ROWS_SCHEMA = StructType([
    StructField("values", ArrayType(StringType()), False),
    StructField("row_num", LongType(), False),
    StructField("source_num", LongType(), False),
])


def open_encoding(dialect: Dialect) -> str:
    """Codec for driver-side file opens. UTF-8 maps to ``utf-8-sig`` so a
    leading byte-order mark is consumed by the decoder instead of becoming
    part of the first header title / first cell (tabular-data-model parsing
    step: skip an initial BOM; Ruby's CSV open does the same via bom-aware
    IO). For any other declared ``dialect.encoding`` the codec is passed
    through to Python's codec registry (reference: metadata.rb:744
    'Set encoding on input', :1201 csv_options[:encoding])."""
    enc = (dialect.encoding or "utf-8").lower().replace("_", "-")
    return "utf-8-sig" if enc in ("utf-8", "utf8", "utf-8-sig") else enc


def _is_utf8(dialect: Dialect) -> bool:
    return open_encoding(dialect) == "utf-8-sig"


def _csv_kwargs(dialect: Dialect) -> dict:
    """csv.reader options for a CSVW dialect. An explicit ``quoteChar:
    null`` disables quote processing entirely (reference: metadata.rb
    csv_options quote_char nil — quotes become ordinary characters)."""
    if not dialect.quoteChar:
        return dict(delimiter=dialect.delimiter, quoting=_csv.QUOTE_NONE,
                    quotechar=None, escapechar=None, strict=False)
    return dict(delimiter=dialect.delimiter, quotechar=dialect.quoteChar,
                doublequote=bool(dialect.doubleQuote),
                escapechar=None if dialect.doubleQuote else "\\",
                strict=False)


def _parse_lines(lines: list[str], dialect: Dialect) -> list[list[Optional[str]]]:
    rdr = _csv.reader(lines, **_csv_kwargs(dialect))
    return [row for row in rdr]


def _is_custom_terminator(dialect: Dialect) -> bool:
    """True for an explicit lineTerminator the standard newline machinery
    (``readline`` / Hadoop LineRecordReader) cannot split on."""
    return dialect.lineTerminator not in (None, "auto", "\n", "\r\n")


def _split_terminator(text: str, dialect: Dialect) -> list[str]:
    """Split ``text`` into logical lines on a custom ``lineTerminator``,
    quote-aware: a terminator inside a quoted field does not end the row
    (Ruby CSV's ``row_sep`` semantics — reference metadata.rb:1199
    ``row_sep: dialect.lineTerminator``). Doubled quotes toggle the state
    twice (net no-op); backslash-escaped quotes (doubleQuote=false
    dialects) do not toggle."""
    term = dialect.lineTerminator
    q = dialect.quoteChar
    if not q or q not in text:
        segs = text.split(term)
        if segs and segs[-1] == "":
            segs.pop()  # trailing terminator, not an empty final row
        return segs
    dq = bool(dialect.doubleQuote)
    out: list[str] = []
    in_q = False
    start = i = 0
    n, tl = len(text), len(term)
    while i < n:
        c = text[i]
        if c == q and (dq or i == 0 or text[i - 1] != "\\"):
            in_q = not in_q
            i += 1
        elif not in_q and text.startswith(term, i):
            out.append(text[start:i])
            i += tl
            start = i
        else:
            i += 1
    if start < n:
        out.append(text[start:])
    return out


def _read_head_segments(path: str, dialect: Dialect, n: int) -> list[str]:
    """First ``n`` logical lines of a custom-terminator file (driver-side,
    bounded by the sniff budget — header rows live at the front)."""
    with open(path, "r", encoding=open_encoding(dialect), newline="") as f:
        text = f.read(_SNIFF_BYTES)
    return _split_terminator(text, dialect)[:n]


def read_header(path: str, dialect: Dialect) -> tuple[list[str], list[str]]:
    """Driver-side: → (header titles, skipped-row notes).
    Mirrors reference embedded_metadata (metadata.rb:726-779)."""
    notes: list[str] = []
    titles: list[str] = []
    n_head = int(dialect.skipRows) + int(dialect.headerRowCount)
    if n_head == 0:
        return titles, notes
    if _is_custom_terminator(dialect):
        head_lines = _read_head_segments(path, dialect, n_head)
    else:
        with open(path, "r", encoding=open_encoding(dialect), newline="") as f:
            head_lines = []
            for _ in range(n_head):
                line = f.readline()
                if not line:
                    break
                head_lines.append(line.rstrip("\r\n"))
    rows = _parse_lines(head_lines, dialect)
    trim = dialect.effective_trim
    skipc = int(dialect.skipColumns) + int(dialect.headerColumnCount)
    for i, row in enumerate(rows):
        if i < int(dialect.skipRows):
            value = dialect.delimiter.join(v if v is not None else "" for v in row)
            if trim in ("true", "start"):
                value = value.lstrip()
            if trim in ("true", "end"):
                value = value.rstrip()
            if dialect.commentPrefix and value.startswith(dialect.commentPrefix):
                value = value[len(dialect.commentPrefix):]
            if value:
                notes.append(value)
        else:
            for j, value in enumerate(row):
                if j < skipc:
                    continue
                if trim in ("true", "start"):
                    value = value.lstrip()
                if trim in ("true", "end"):
                    value = value.rstrip()
                idx = j - int(dialect.skipColumns)
                while len(titles) <= idx:
                    titles.append("")
                titles[idx] = value if not titles[idx] else titles[idx]
    return titles, notes


_SNIFF_BYTES = 64 * 1024 * 1024  # bounded: never full-scan a huge file


def _quote_sniff(path: str, dialect: Dialect) -> tuple[bool, bool]:
    """(has_quoted_newline, sniff_complete) over at most the first 64 MB.

    A physical line ending inside an open quoted field means some row spans
    lines. Conservative (escaped quotes in non-doubleQuote dialects may
    false-positive) — a false positive only selects the slower,
    still-correct whole-file path. Bounded so the driver never pays a
    full-file read on the hot path; when the bound truncates the scan,
    ``sniff_complete`` is False and ``read_rows`` runs one distributed
    odd-quote-parity pass to decide the path (auto-fallback, never a
    mid-job error)."""
    q = dialect.quoteChar
    if not q:
        return False, True
    in_quote = False
    seen = 0
    with open(path, "r", encoding=open_encoding(dialect), newline="") as f:
        for line in f:
            seen += len(line)
            if line.count(q) % 2:
                in_quote = not in_quote
            if in_quote and line.endswith(("\n", "\r")):
                return True, True
            if seen > _SNIFF_BYTES:
                return False, False
    return False, True


def _has_quoted_newline(path: str, dialect: Dialect) -> bool:
    return _quote_sniff(path, dialect)[0]


def _read_rows_whole_file(spark: SparkSession, path: str,
                          dialect: Dialect) -> DataFrame:
    """Fallback for quoted embedded newlines: stream the file through one
    csv.reader (driver-side), then distribute the parsed rows. source_num is
    the row's FIRST physical line; skipped/header rows are counted in parsed
    rows (equal to physical lines for the fixtures that need this path)."""
    skipped = dialect.skipped_rows
    skipc = int(dialect.skipColumns) + int(dialect.headerColumnCount)
    skip_blank = bool(dialect.skipBlankRows)
    data: list[tuple[list, int, int]] = []
    comment = dialect.commentPrefix

    def _consume(rows_iter):
        row_num = 0
        for row, row_idx, start_line, raw in rows_iter:
            if row_idx <= skipped:
                continue
            if comment and raw.startswith(comment):
                # data comment row (tabular-data-model §8): tested on the
                # raw source line, like the line path — a quoted first
                # cell '"#x"' is data
                continue
            vals = row[skipc:] if skipc else row
            if skip_blank and not any((c or "").strip() for c in vals):
                continue
            row_num += 1
            data.append((vals, row_num, start_line))

    if _is_custom_terminator(dialect):
        # Custom lineTerminator: logical rows are terminator-delimited
        # segments (quote-aware split), each parsed as one CSV record.
        # source_num counts terminator-delimited segments, mirroring Ruby
        # CSV's row_sep accounting (reference metadata.rb:1199).
        with open(path, "r", encoding=open_encoding(dialect), newline="") as f:
            segs = _split_terminator(f.read(), dialect)
        _consume((row, i + 1, i + 1, seg) for i, (seg, row)
                 in enumerate(zip(segs, _parse_lines(segs, dialect))))
    else:
        with open(path, "r", encoding=open_encoding(dialect), newline="") as f:
            def _stream():
                # csv.reader pulls physical lines only as a record needs
                # them, so after each record `consumed` holds exactly its
                # lines; the first one is the record's raw source line
                consumed: list[str] = []

                def lines():
                    for line in f:
                        consumed.append(line)
                        yield line
                rdr = _csv.reader(lines(), **_csv_kwargs(dialect))
                prev_line = 0
                idx = 0
                for row in rdr:
                    idx += 1
                    yield row, idx, prev_line + 1, consumed[0]
                    consumed.clear()
                    prev_line = rdr.line_num
            _consume(_stream())
    return spark.createDataFrame(data, ROWS_SCHEMA)


def read_rows(spark: SparkSession, path: str, dialect: Dialect) -> DataFrame:
    """CSV file → DataFrame(values: array<string>, row_num, source_num).

    row_num is 1-based after skipped/header rows AND after blank-row
    removal (blank rows never consume a logical ``_row`` number);
    source_num is the 1-based physical line number (reference: each_row,
    metadata.rb:786-795).
    """
    if not _is_utf8(dialect):
        # spark.read.text decodes UTF-8 only; a declared non-UTF-8
        # dialect.encoding takes the driver-side codec path (correct,
        # slower — the reference is wholly driver-side for every file).
        # At scale, non-UTF-8 tabular sources should be transcoded on
        # ingest; the distributed fast path is UTF-8 by contract.
        return _read_rows_whole_file(spark, path, dialect)
    has_spanning, sniff_complete = False, True
    if _is_custom_terminator(dialect):
        # Distributed lineSep splitting is blind to quoting — a terminator
        # inside a quoted field would split the row. Quote-free files (or
        # quote-free prefixes of bounded sniff) stay distributed; any
        # quote character routes to the quote-aware driver path.
        if dialect.quoteChar:
            with open(path, "r", encoding=open_encoding(dialect),
                      newline="") as f:
                head = f.read(_SNIFF_BYTES)
                sniff_done = f.read(1) == ""
            if dialect.quoteChar in head or not sniff_done:
                return _read_rows_whole_file(spark, path, dialect)
    else:
        has_spanning, sniff_complete = _quote_sniff(path, dialect)
    if has_spanning:
        return _read_rows_whole_file(spark, path, dialect)
    if not sniff_complete and dialect.quoteChar and bool(dialect.doubleQuote):
        # File larger than the sniff bound, doubleQuote dialect (where a
        # closed quoted field ALWAYS has an even per-line quote count): one
        # distributed parity pass — any odd-count line means a possibly
        # split quoted field beyond the prefix, so auto-fall back to the
        # whole-file path instead of risking a mis-parse or mid-job error.
        # Backslash-escape dialects legitimately carry odd counts (\") and
        # keep the distributed lenient path unconditionally.
        from pyspark.sql import functions as F
        q = dialect.quoteChar
        probe = spark.read.text(path)
        odd = probe.where(
            (F.length("value") - F.length(F.translate("value", q, ""))) % 2
            == 1)
        if odd.head(1):
            return _read_rows_whole_file(spark, path, dialect)
    skipped = dialect.skipped_rows
    skipc = int(dialect.skipColumns) + int(dialect.headerColumnCount)
    csv_kwargs = _csv_kwargs(dialect)
    skip_blank = bool(dialect.skipBlankRows)
    comment = dialect.commentPrefix

    reader = spark.read
    if dialect.lineTerminator and dialect.lineTerminator != "auto":
        reader = reader.option("lineSep", dialect.lineTerminator)
    lines = reader.text(path)
    # zipWithIndex: deterministic, contiguous, file-order line numbers; narrow
    # explicit schema: skips the inference sampling job AND keeps a
    # zero-byte file from raising "RDD is empty" during inference
    indexed = lines.rdd.zipWithIndex().map(lambda t: (t[0][0], t[1] + 1)) \
        .toDF("line string, source_num long")
    # A UTF-8 BOM survives spark.read.text as U+FEFF on line 1; when that
    # line is data (headerless dialects — the header path strips it via
    # the utf-8-sig driver read) it must not leak into the first cell.
    from pyspark.sql import functions as F
    indexed = indexed.withColumn(
        "line",
        F.when((F.col("source_num") == 1) & F.col("line").startswith("\ufeff"),
               F.expr("substring(line, 2)")).otherwise(F.col("line")))

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep = pdf[pdf["source_num"] > skipped]
            if comment:
                # tabular-data-model §8: a data row whose source content
                # begins with the comment prefix is a comment, not a row
                # (the reference never implements this — metadata.rb only
                # strips the prefix from skipRows notes at :752; the W3C
                # behavior is kept here, like the FK/length-facet fixes)
                keep = keep[~keep["line"].str.startswith(comment)]
            if keep.empty:
                # dtype=object: an empty default-dtype (float64) ndarray
                # cannot convert to Arrow list<string> — header-only
                # files hit exactly this branch
                yield pd.DataFrame({"values": pd.Series([], dtype="object"),
                                    "row_num": pd.Series([], dtype="int64"),
                                    "source_num": pd.Series([], dtype="int64")})
                continue
            vals = []
            for line in keep["line"]:
                # Odd-quote-count lines cannot reach this kernel: the driver
                # sniff (complete files) or the distributed parity probe
                # (files beyond the sniff bound) routes them to the
                # whole-file path first. Any residual stray quote parses
                # leniently, matching csv.reader's non-strict behavior.
                row = next(_csv.reader(io.StringIO(line), **csv_kwargs), [])
                vals.append(row[skipc:] if skipc else row)
            out = pd.DataFrame({
                "values": vals,
                "row_num": (keep["source_num"] - skipped).astype("int64"),
                "source_num": keep["source_num"].astype("int64"),
            })
            if skip_blank:
                mask = out["values"].map(lambda r: any((c or "").strip() for c in r))
                out = out[mask]
            yield out

    from ..session import ensure_package_on_executors
    ensure_package_on_executors(indexed.sparkSession)
    rows = indexed.mapInPandas(parse, schema=ROWS_SCHEMA)
    if skip_blank or comment:
        # blank/comment rows must not consume logical row numbers ({_row}
        # templates): renumber survivors consecutively in file order
        # (zipWithIndex keeps partition order = byte-offset order; one
        # extra narrow pass, only when the dialect needs it)
        rows = (rows.rdd.zipWithIndex()
                .map(lambda t: (list(t[0]["values"]), t[1] + 1,
                                t[0]["source_num"]))
                .toDF(ROWS_SCHEMA))
    return rows
