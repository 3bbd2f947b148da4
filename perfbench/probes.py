"""Single-core layer probes, run in the benchmark process itself: the
per-row Python cost of the triple kernel and the per-page cost of the HTML
parser, without Spark's read, transfer or sink around them."""

from __future__ import annotations

import time
from contextlib import contextmanager

# functions wrapped from outside: metric -> (csvw module, class, attribute)
COUNTED = {
    "uri_template.expand_calls_per_row": ("uri_template", "URITemplate",
                                          "expand"),
    "context.expand_iri_calls_per_row": ("context", "Context", "expand_iri"),
    "coerce.calls_per_row": ("coerce", None, "value_matching_datatype"),
}

MIN_PROBE_SECONDS = 1.0


@contextmanager
def counting_calls():
    """Wrap URITemplate.expand, Context.expand_iri and
    coerce.value_matching_datatype; yields {metric name: call count}."""
    import importlib
    counts = dict.fromkeys(COUNTED, 0)
    restore = []
    for metric, (module, cls, attr) in COUNTED.items():
        owner = importlib.import_module(f"rdf_tabular_spark.csvw.{module}")
        if cls is not None:
            owner = getattr(owner, cls)
        original = getattr(owner, attr)

        def wrapper(*a, _m=metric, _f=original, **kw):
            counts[_m] += 1
            return _f(*a, **kw)

        setattr(owner, attr, wrapper)
        restore.append((owner, attr, original))
    try:
        yield counts
    finally:
        for owner, attr, original in restore:
            setattr(owner, attr, original)


def _run_kernel(mapping, rows) -> int:
    from rdf_tabular_spark.operators.triples import TripleKernel
    kernel = TripleKernel(mapping)
    n = 0
    for i, values in enumerate(rows):
        n += len(kernel.row_triples(values, i + 1, i + 2))
    return n


def kernel_probe(mapping, rows) -> dict:
    """Rows/s of ``TripleKernel.row_triples`` on one core, plus exact call
    counts per row from one fresh kernel over the same rows."""
    with counting_calls() as counts:
        _run_kernel(mapping, rows)
    out = {k: v / len(rows) for k, v in counts.items()}
    done, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < MIN_PROBE_SECONDS:
        _run_kernel(mapping, rows)
        done += len(rows)
    out["triples.kernel_rows_per_s_1core"] = done / (time.perf_counter() - t0)
    return out


def html_probe(pages_html: list[bytes]) -> float:
    """Pages/s of ``html_extract.extract_page`` on one core."""
    from rdf_tabular_spark.sources.html_extract import _decode, extract_page
    docs = [_decode(h) for h in pages_html]
    done, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < MIN_PROBE_SECONDS:
        for d in docs:
            extract_page(d)
        done += len(docs)
    return done / (time.perf_counter() - t0)
