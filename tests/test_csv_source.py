"""CSV source: multiline quoted fields (whole-file fallback) and logical
row numbering across skipped blank rows (CSVW `_row` semantics)."""

import json

from rdf_tabular_spark.csvw.model import Dialect
from rdf_tabular_spark.pipeline import csvw_to_triples
from rdf_tabular_spark.sources.csv_source import (_has_quoted_newline,
                                                  read_rows)


def _rows(spark, path, dialect):
    return sorted(
        ((list(r["values"]), r["row_num"], r["source_num"])
         for r in read_rows(spark, str(path), dialect).collect()),
        key=lambda t: t[2])


def test_multiline_quoted_field(spark, tmp_path):
    p = tmp_path / "m.csv"
    p.write_text('a,b\n"line1\nline2",x\n"q ""quoted"" v",y\n')
    assert _has_quoted_newline(str(p), Dialect())
    got = _rows(spark, p, Dialect())  # header consumed via skipped_rows
    assert got == [
        (["line1\nline2", "x"], 1, 2),
        (['q "quoted" v', "y"], 2, 4),
    ]


def test_no_false_fallback_on_plain_csv(spark, tmp_path):
    p = tmp_path / "p.csv"
    p.write_text('a,b\n"v1",x\n')
    assert not _has_quoted_newline(str(p), Dialect())


def test_skip_blank_rows_row_numbers_consecutive(spark, tmp_path):
    p = tmp_path / "b.csv"
    p.write_text("a,b\n1,x\n,\n2,y\n\n3,z\n")
    d = Dialect(skipBlankRows=True)
    got = _rows(spark, p, d)
    # header consumed via skipped_rows; blank lines 3 and 5 are dropped and
    # the survivors are numbered 1..3 consecutively (no gaps)
    assert [(rn, sn) for _, rn, sn in got] == [(1, 2), (2, 4), (3, 6)]


def test_skip_blank_rows_row_template(spark, tmp_path):
    """End-to-end: {_row} in aboutUrl must not show gaps at blank rows."""
    csv = tmp_path / "t.csv"
    csv.write_text("a\nv1\n\nv2\n")
    (tmp_path / "t.csv-metadata.json").write_text(json.dumps({
        "@context": "http://www.w3.org/ns/csvw", "url": "t.csv",
        "dialect": {"skipBlankRows": True},
        "tableSchema": {
            "columns": [{"name": "a", "titles": "a"}],
            "aboutUrl": "http://e.org/r/{_row}"}}))
    df = csvw_to_triples(spark, str(csv), minimal=True)
    subj_obj = sorted((r["subj"], r["obj"]) for r in df.collect())
    assert subj_obj == [("http://e.org/r/1", "v1"), ("http://e.org/r/2", "v2")]


def test_quoted_newline_beyond_sniff_auto_fallback(spark, tmp_path, monkeypatch):
    """A quoted newline past the sniff bound must auto-route to the
    whole-file path (one distributed parity probe), not raise mid-job."""
    from rdf_tabular_spark.sources import csv_source
    monkeypatch.setattr(csv_source, "_SNIFF_BYTES", 8)  # truncate the sniff
    p = tmp_path / "big.csv"
    p.write_text('a,b\n1,x\n2,y\n"li\nne",z\n')
    has, complete = csv_source._quote_sniff(str(p), Dialect())
    assert not has and not complete  # sniff saw nothing, was truncated
    got = _rows(spark, p, Dialect())
    assert got == [(["1", "x"], 1, 2), (["2", "y"], 2, 3),
                   (["li\nne", "z"], 3, 4)]


def test_stray_quote_parses_leniently(spark, tmp_path):
    """A stray unescaped quote in an unquoted field parses (csv.reader
    non-strict), never errors — it routes through the whole-file path via
    the conservative sniff."""
    p = tmp_path / "s.csv"
    p.write_text('a,b\nv"1,x\n2,y\n')
    got = _rows(spark, p, Dialect())
    assert [v for v, _, _ in got] == [['v"1', "x"], ["2", "y"]]


def test_multiline_with_header_and_skip(spark, tmp_path):
    p = tmp_path / "h.csv"
    p.write_text('# note\na,b\n"x\ny",1\n')
    d = Dialect(skipRows=1)  # comment + header both consumed (skipped_rows=2)
    got = _rows(spark, p, d)
    assert got == [(["x\ny", "1"], 1, 3)]


def test_comment_rows_test_raw_line_on_both_read_paths(spark, tmp_path):
    """commentPrefix is matched against the raw source line, not the parsed
    first cell: '"#x",y' is data, '#x,y' is a comment. The whole-file path
    (forced by a quoted embedded newline) and the line path agree."""
    from rdf_tabular_spark.sources.csv_source import _read_rows_whole_file
    d = Dialect(commentPrefix="#")
    multi = tmp_path / "multi.csv"
    multi.write_text('a,b\n"#x",y\n#x,y\n"m\nn",z\n')
    assert _has_quoted_newline(str(multi), d)
    assert _rows(spark, multi, d) == [(["#x", "y"], 1, 2),
                                      (["m\nn", "z"], 2, 4)]
    plain = tmp_path / "plain.csv"
    plain.write_text('a,b\n"#x",y\n#x,y\nmn,z\n')
    assert not _has_quoted_newline(str(plain), d)
    whole = sorted(((list(r["values"]), r["row_num"], r["source_num"])
                    for r in _read_rows_whole_file(spark, str(plain), d)
                    .collect()), key=lambda t: t[2])
    assert _rows(spark, plain, d) == whole == [(["#x", "y"], 1, 2),
                                               (["mn", "z"], 2, 4)]
