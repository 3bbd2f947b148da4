"""Seeded input generators. The program under test only ever sees the files
written here; the generator's own arrays are kept for the correctness checks
so the expected counts never come from the program."""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass

import numpy as np

LINEITEM_BASE = "http://example.org/bench/lineitem-metadata.json"
LINEITEM_URL = "http://example.org/bench/lineitem.csv"

# (name, CSVW datatype) in TPC-H lineitem order
LINEITEM_COLUMNS = [
    ("l_orderkey", "integer"),
    ("l_partkey", "integer"),
    ("l_suppkey", "integer"),
    ("l_linenumber", "integer"),
    ("l_quantity", "decimal"),
    ("l_extendedprice", "decimal"),
    ("l_discount", "decimal"),
    ("l_tax", "decimal"),
    ("l_returnflag", "string"),
    ("l_linestatus", "string"),
    ("l_shipdate", "date"),
]
# columns that may hold an empty (null) cell; the row key never does
NULLABLE = ("l_tax", "l_returnflag", "l_shipdate")
NULL_FRACTION = 0.01
# standard mode emits, per row: table csvw:row, rownum, url, describes
STANDARD_TRIPLES_PER_ROW = 4
# table rdf:type csvw:Table and table csvw:url
TABLE_TRIPLES = 2


def lineitem_metadata() -> dict:
    """CSVW metadata for the lineitem CSV: 11 typed columns and one
    row-level aboutUrl over the (orderkey, linenumber) key."""
    return {
        "@context": "http://www.w3.org/ns/csvw",
        "url": "lineitem.csv",
        "tableSchema": {
            "columns": [{"name": n, "titles": n, "datatype": dt}
                        for n, dt in LINEITEM_COLUMNS],
            "aboutUrl":
                "http://example.org/lineitem/{l_orderkey}-{l_linenumber}",
        },
    }


@dataclass
class LineitemInput:
    path: str
    rows: list[list[str]]     # data rows as written, '' = null cell
    expected_triples: int     # derived from ``rows``, not from the program

    def resolver(self, url: str) -> str:
        return self.path if url == LINEITEM_URL else url


def _lineitem_rows(seed: int, n_rows: int) -> list[list[str]]:
    """TPC-H-shaped lineitem rows: orders of 1-7 lines, keys unique per
    (orderkey, linenumber), uniform prices/discounts/dates."""
    rng = np.random.default_rng(seed)
    lines_per_order = rng.integers(1, 8, size=n_rows)
    orderkey = np.repeat(np.arange(1, n_rows + 1) * 4,
                         lines_per_order)[:n_rows]
    linenumber = np.concatenate([np.arange(1, k + 1)
                                 for k in lines_per_order])[:n_rows]
    partkey = rng.integers(1, 20_001, size=n_rows)
    suppkey = rng.integers(1, 1_001, size=n_rows)
    quantity = rng.integers(1, 51, size=n_rows)
    price = rng.integers(90_000, 200_000, size=n_rows) / 100.0
    discount = rng.integers(0, 11, size=n_rows) / 100.0
    tax = rng.integers(0, 9, size=n_rows) / 100.0
    returnflag = rng.choice(np.array(["A", "N", "R"]), size=n_rows)
    linestatus = rng.choice(np.array(["O", "F"]), size=n_rows)
    shipdate = (np.datetime64("1992-01-02")
                + rng.integers(0, 2_525, size=n_rows).astype("timedelta64[D]"))
    null_mask = {c: rng.random(n_rows) < NULL_FRACTION for c in NULLABLE}
    rows = []
    for i in range(n_rows):
        row = [str(orderkey[i]), str(partkey[i]), str(suppkey[i]),
               str(linenumber[i]), f"{quantity[i]}.00",
               f"{quantity[i] * price[i]:.2f}", f"{discount[i]:.2f}",
               f"{tax[i]:.2f}", str(returnflag[i]), str(linestatus[i]),
               str(shipdate[i])]
        for c in NULLABLE:
            if null_mask[c][i]:
                row[[n for n, _ in LINEITEM_COLUMNS].index(c)] = ""
        rows.append(row)
    return rows


def write_lineitem(dirpath: str, seed: int, n_rows: int) -> LineitemInput:
    rows = _lineitem_rows(seed, n_rows)
    os.makedirs(dirpath, exist_ok=True)
    path = os.path.join(dirpath, "lineitem.csv")
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow([n for n, _ in LINEITEM_COLUMNS])
        w.writerows(rows)
    non_null = sum(1 for r in rows for c in r if c != "")
    expected = (TABLE_TRIPLES + STANDARD_TRIPLES_PER_ROW * len(rows)
                + non_null)
    return LineitemInput(path, rows, expected)


def write_pages(spark, dirpath: str, seed: int, n_pages: int) -> str:
    """Seeded synthetic web pages, written once as parquet."""
    from rdf_tabular_spark.sources.pages import synth_pages
    path = os.path.join(dirpath, "pages.parquet")
    (synth_pages(spark, n_pages, seed=seed)
     .write.mode("overwrite").parquet(path))
    return path
