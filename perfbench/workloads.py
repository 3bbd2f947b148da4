"""The benchmark's workloads. Each one generates its inputs from the seed,
warms up, then times the package's public entry points in a closed loop
with one client, checking every output. The traced variant calls the same
public functions one layer at a time and records a span per layer."""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable, Optional

import harness
import inputs
import probes

N_ROWS = 8_000           # lineitem rows per conversion
N_PAGES = 500            # synthetic pages per pipeline run
CSVW_WARMUP_OPS = 2      # untimed operations before timing
PAGES_WARMUP_OPS = 3
MIN_OPS = 3              # timed operations per run, at least
PARITY_ROWS = 5          # rows checked against the in-process kernel
PROBE_ROWS = 2_000       # rows in the single-core kernel probe
PROBE_PAGES = 100        # pages in the single-core HTML probe
QUERIES_PER_KIND = 6     # store query mix: predicate, subject, star
QUERY_WARMUP = 3


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    session_s: float


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)   # name -> (value, unit)
    notes: list = field(default_factory=list)
    tracer: Optional[harness.Tracer] = None
    rss_mb: float = 0.0
    rss_parts: dict = field(default_factory=dict)

    def sample_rss(self) -> None:
        """Python workers come and go, so the sum is sampled after every
        operation and the highest sample kept."""
        parts = harness.rss_parts_mb()
        if sum(parts.values()) > self.rss_mb:
            self.rss_mb, self.rss_parts = sum(parts.values()), parts

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.notes.append(f"CHECK FAILED: {what}")
        return ok


def _timed_loop(out: Outcome, seconds: float,
                op: Callable[[int], object],
                check: Callable[[int, object], bool]) -> list[float]:
    """Closed loop, one client: issue operations back to back until
    ``seconds`` of operation time and ``MIN_OPS`` operations; check each
    output after its timer stops. Returns the wall times of good ops."""
    walls: list[float] = []
    busy = 0.0
    while out.attempted < MIN_OPS or busy < seconds:
        i = out.attempted
        out.attempted += 1
        t0 = time.perf_counter()
        try:
            result = op(i)
        except Exception:
            busy += time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
            out.failed += 1
            out.notes.append(f"operation {i} raised")
            continue
        wall = time.perf_counter() - t0
        busy += wall
        out.sample_rss()
        if check(i, result):
            walls.append(wall)
        else:
            out.failed += 1
    return walls


def _common_end(ctx: Ctx, out: Outcome) -> None:
    cached_mb, rdds = harness.storage_after(ctx.spark)
    out.metric("cached_mb_after", cached_mb, "MB")
    out.metric("storage.persistent_rdds_after", rdds, "count")
    out.metric("failed_ops_ratio", out.failed / max(out.attempted, 1),
               "ratio")
    out.sample_rss()
    out.metric("peak_rss_mb", out.rss_mb, "MB")
    out.notes.append("peak_rss_mb parts: " + ", ".join(
        f"{k} {v:.0f}" for k, v in sorted(out.rss_parts.items())))


def _layer_metrics(out: Outcome, tracer: harness.Tracer, span_names,
                   layer: str) -> float:
    """Stage metrics of the spans with the given name (or names), reported
    under ``layer``; returns their self time."""
    if isinstance(span_names, str):
        span_names = [span_names]
    spans = [s for n in span_names for s in tracer.named(n)]
    wall = sum(s.seconds for s in spans)
    st = {k: sum(s.stages.get(k, 0.0) for s in spans)
          for k in harness.STAGE_KEYS}
    out.metric(f"{layer}.executor_run_s", st["executor_run_s"], "s")
    out.metric(f"{layer}.shuffle_write_mb", st["shuffle_write_mb"], "MB")
    out.metric(f"{layer}.spill_mb", st["spill_mb"], "MB")
    out.metric(f"{layer}.tasks", st["tasks"], "count")
    out.metric(f"{layer}.core_util",
               st["executor_run_s"] / (wall * harness.cores()) if wall else 0,
               "ratio")
    return sum(tracer.self_seconds(s) for s in spans)


def _trace_summary(out: Outcome, tracer: harness.Tracer, root: str,
                   untraced_wall: float) -> None:
    span = tracer.named(root)[0]
    out.metric("trace.wall_s", span.seconds, "s")
    out.metric("trace.untraced_wall_s", untraced_wall, "s")
    out.metric("trace.overhead_s", span.seconds - untraced_wall, "s")
    out.metric("trace.root_self_s", tracer.self_seconds(span), "s")


# ---------------------------------------------------------------------------
# csvw_lineitem: metadata + CSV -> triples -> N-Triples
# ---------------------------------------------------------------------------

def _read_lines(path: str) -> list[str]:
    lines: list[str] = []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with open(os.path.join(path, name), encoding="utf-8") as f:
                lines.extend(f.read().splitlines())
    return lines


def _digest(lines: list[str]) -> str:
    return hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()


def _plan_lineitem(li: inputs.LineitemInput):
    """The driver-side planning csvw_to_triples does for one table, step by
    step through the same public functions: metadata load, header read and
    merge, mapping compilation."""
    from rdf_tabular_spark.csvw.model import load_metadata
    from rdf_tabular_spark.operators.triples import compile_mapping
    from rdf_tabular_spark.pipeline import (ensure_columns_from_data,
                                            merge_embedded_titles)
    from rdf_tabular_spark.sources.csv_source import read_header
    table = load_metadata(inputs.lineitem_metadata(),
                          base=inputs.LINEITEM_BASE, resolver=li.resolver)
    path = li.resolver(table.url)
    titles, _notes = read_header(path, table.dialect)
    if titles:
        merge_embedded_titles(table, titles)
    ensure_columns_from_data(table, path)
    return table, path, compile_mapping(table)


def _kernel_lines(spark, mapping, li: inputs.LineitemInput,
                  picks: list[int]) -> dict[str, set]:
    """N-Triples lines the in-process kernel gives for the picked rows,
    keyed by each row's subject prefix."""
    from rdf_tabular_spark.operators.triples import (TRIPLE_SCHEMA,
                                                     TripleKernel)
    from rdf_tabular_spark.sinks.ntriples import to_ntriples_lines
    kernel = TripleKernel(mapping)
    out = {}
    for i in picks:
        rows = [t + (mapping.url, i + 2)
                for t in kernel.row_triples(li.rows[i], i + 1, i + 2)]
        df = spark.createDataFrame(rows, TRIPLE_SCHEMA)
        subj = f"<{rows[-1][0]}> "
        out[subj] = {r["line"] for r in to_ntriples_lines(df).collect()}
    return out


def csvw_lineitem(ctx: Ctx, trace: bool) -> Outcome:
    from rdf_tabular_spark.pipeline import csvw_to_triples
    from rdf_tabular_spark.sinks.ntriples import write_ntriples
    spark, out = ctx.spark, Outcome()
    t0 = time.perf_counter()
    li = inputs.write_lineitem(os.path.join(ctx.work, "in"), ctx.seed, N_ROWS)

    def op(tag) -> str:
        dest = os.path.join(ctx.work, "out", str(tag))
        df = csvw_to_triples(spark, inputs.lineitem_metadata(),
                             base=inputs.LINEITEM_BASE, resolver=li.resolver)
        write_ntriples(df, dest)
        return dest

    for i in range(CSVW_WARMUP_OPS):
        shutil.rmtree(op(f"warm{i}"))
    setup_s = ctx.session_s + time.perf_counter() - t0

    _table, _path, mapping = _plan_lineitem(li)
    picks = sorted(random.Random(ctx.seed).sample(range(len(li.rows)),
                                                  PARITY_ROWS))
    expected_rows = _kernel_lines(spark, mapping, li, picks)
    ref: dict = {}

    def check(i, dest) -> bool:
        lines = _read_lines(dest)
        shutil.rmtree(dest)
        ok = out.check(len(lines) == li.expected_triples,
                       f"op {i}: {len(lines)} triples written, "
                       f"{li.expected_triples} derived from the input")
        digest = _digest(lines)
        ref.setdefault("digest", digest)
        ok &= out.check(digest == ref["digest"],
                        f"op {i}: N-Triples digest differs from op 0")
        have = set(lines)
        for subj, want in expected_rows.items():
            got = sum(1 for line in lines if line.startswith(subj))
            ok &= out.check(want <= have and got == sum(
                1 for w in want if w.startswith(subj)),
                f"op {i}: row {subj} differs from TripleKernel.row_triples")
        return ok

    if not trace:
        walls = _timed_loop(out, ctx.seconds, op, check)
        wall = statistics.median(walls) if walls else float("nan")
        out.metric("setup_s", setup_s, "s")
        out.metric("wall_s", wall, "s")
        out.metric("triples_per_s", li.expected_triples / wall, "triples/s")
        out.notes.append(f"wall_s samples: {len(walls)} "
                         f"{[round(w, 3) for w in walls]}")
        _common_end(ctx, out)
        return out

    # traced run: one untraced operation, then the same work layer by layer
    t1 = time.perf_counter()
    dest = op("untraced")
    untraced = time.perf_counter() - t1
    out.attempted += 1
    out.failed += not check("untraced", dest)

    from rdf_tabular_spark.operators.triples import (local_triples_df,
                                                     rows_to_triples)
    from rdf_tabular_spark.pipeline import table_level_triples
    from rdf_tabular_spark.sources.csv_source import read_rows
    tracer = out.tracer = harness.Tracer(
        spark, f"csvw_lineitem-{ctx.seed}-{os.getpid()}")
    dest = os.path.join(ctx.work, "out", "traced")
    with tracer.span("csvw_lineitem"):
        with tracer.span("pipeline.plan"):
            table, path, mapping = _plan_lineitem(li)
        with tracer.span("csv_source.read_rows") as s:
            rows = read_rows(spark, path, table.dialect).persist()
            s.counts["rows"] = rows.count()
            s.counts["partitions"] = rows.rdd.getNumPartitions()
        with tracer.span("triples.rows_to_triples") as s:
            meta = table_level_triples(table, mapping.table_resource, False)
            triples = rows_to_triples(rows, mapping).unionByName(
                local_triples_df(spark, [t + (table.url, 0) for t in meta]))
            triples = triples.persist()
            s.counts["triples"] = triples.count()
        with tracer.span("ntriples.write_ntriples") as s:
            write_ntriples(triples, dest)
            s.counts["files"], s.counts["bytes"] = harness.dir_stats(dest)
    rows.unpersist()
    triples.unpersist()
    out.attempted += 1
    out.failed += not check("traced", dest)

    read = tracer.named("csv_source.read_rows")[0]
    out.metric("pipeline.plan_s",
               tracer.self_seconds(tracer.named("pipeline.plan")[0]), "s")
    out.metric("csv_source.read_rows_s",
               _layer_metrics(out, tracer, "csv_source.read_rows",
                              "csv_source"), "s")
    out.metric("csv_source.partitions", read.counts["partitions"], "count")
    out.metric("csv_source.rows", read.counts["rows"], "count")
    out.metric("triples.rows_to_triples_s",
               _layer_metrics(out, tracer, "triples.rows_to_triples",
                              "triples"), "s")
    out.metric("triples.triples",
               tracer.named("triples.rows_to_triples")[0].counts["triples"],
               "count")
    write = tracer.named("ntriples.write_ntriples")[0]
    out.metric("ntriples.write_s",
               _layer_metrics(out, tracer, "ntriples.write_ntriples",
                              "ntriples"), "s")
    out.metric("ntriples.bytes_written", write.counts["bytes"], "bytes")
    _trace_summary(out, tracer, "csvw_lineitem", untraced)

    for name, value in probes.kernel_probe(mapping,
                                           li.rows[:PROBE_ROWS]).items():
        unit = "rows/s" if name.endswith("_1core") else "calls/row"
        out.metric(name, value, unit)
    _common_end(ctx, out)
    return out


# ---------------------------------------------------------------------------
# pages_kg: pages -> extract + link -> canonicalize -> graph store
# ---------------------------------------------------------------------------

def pages_kg(ctx: Ctx, trace: bool) -> Outcome:
    from rdf_tabular_spark import web
    from rdf_tabular_spark.sinks.graph_store import read_graph
    from rdf_tabular_spark.sources.pages import entity_dictionary
    spark, out = ctx.spark, Outcome()
    t0 = time.perf_counter()
    pages_path = inputs.write_pages(spark, os.path.join(ctx.work, "in"),
                                    ctx.seed, N_PAGES)
    ents = entity_dictionary()
    # wrapped from outside: keeps a handle on canonicalize's input (the raw
    # triples) and its mapping so they can be counted after the timer stops
    canonicalize = web.canonicalize_subjects
    seen: dict = {}

    def capture(triples, *a, **kw):
        rewritten, mapping = canonicalize(triples, *a, **kw)
        seen["raw"], seen["mapping"] = triples, mapping
        return rewritten, mapping

    def op(tag):
        root = os.path.join(ctx.work, "stores", str(tag))
        web.canonicalize_subjects = capture
        try:
            return root, web.web_pipeline(
                spark, spark.read.parquet(pages_path), root, "b0",
                entity_dict=ents)
        finally:
            web.canonicalize_subjects = canonicalize

    for i in range(PAGES_WARMUP_OPS):
        root, _m = op(f"warm{i}")
        shutil.rmtree(root)
    seen.clear()
    setup_s = ctx.session_s + time.perf_counter() - t0
    ref: dict = {}

    def check(i, result, count_raw: bool) -> bool:
        root, manifest = result
        merged = seen.pop("mapping").count()
        seen["last_raw"] = raw = seen.pop("raw")
        n = manifest["n_triples"]
        stored = read_graph(spark, root).count()
        ok = out.check(n == stored, f"op {i}: manifest n_triples {n} != "
                       f"read_graph count {stored}")
        ref.setdefault("n_triples", n)
        ref.setdefault("merged", merged)
        ok &= out.check(n == ref["n_triples"],
                        f"op {i}: n_triples {n} != {ref['n_triples']}")
        ok &= out.check(merged == ref["merged"],
                        f"op {i}: merged_subjects {merged} != {ref['merged']}")
        if count_raw:
            ok &= check_raw(i, raw)
        shutil.rmtree(root)
        return ok

    def check_raw(i, raw) -> bool:
        n_raw = raw.count()
        ref.setdefault("raw", n_raw)
        return out.check(n_raw == ref["raw"],
                         f"op {i}: raw triples {n_raw} != {ref['raw']}")

    if not trace:
        # recounting the raw triples re-runs extraction, so it is done for
        # the first operation and, after the loop, for the last one
        passed: list[bool] = []

        def check_op(i, result):
            passed.append(check(i, result, count_raw=(i == 0)))
            return passed[-1]

        walls = _timed_loop(out, ctx.seconds, op, check_op)
        if len(passed) > 1 and passed[-1] and not check_raw(
                "last", seen["last_raw"]):
            out.failed += 1
            walls.pop()
        seen.clear()
        wall = statistics.median(walls) if walls else float("nan")
        out.metric("setup_s", setup_s, "s")
        out.metric("wall_s", wall, "s")
        out.metric("triples_per_s", ref.get("n_triples", 0) / wall,
                   "triples/s")
        out.notes.append(f"wall_s samples: {len(walls)} "
                         f"{[round(w, 3) for w in walls]}")
        _common_end(ctx, out)
        return out

    t1 = time.perf_counter()
    result = op("untraced")
    untraced = time.perf_counter() - t1
    out.attempted += 1
    out.failed += not check("untraced", result, True)
    seen.clear()

    tracer = out.tracer = harness.Tracer(
        spark, f"pages_kg-{ctx.seed}-{os.getpid()}")
    root = _traced_pages(ctx, tracer, pages_path, ents)
    ext = tracer.named("web.extract")[0]
    link = tracer.named("web.link")[0]
    canon = tracer.named("web.canonicalize")[0]
    mat = tracer.named("graph_store.materialize")[0]
    out.attempted += 1
    stored = read_graph(spark, root).count()
    ok = out.check(mat.counts["n_triples"] == stored == ref["n_triples"],
                   f"traced: n_triples {mat.counts['n_triples']}, stored "
                   f"{stored}, untraced {ref['n_triples']}")
    ok &= out.check(canon.counts["merged_subjects"] == ref["merged"],
                    "traced: merged_subjects differs from untraced")
    ok &= out.check(ext.counts["triples"] + link.counts["mention_triples"]
                    == ref["raw"], "traced: raw triples differ")
    out.failed += not ok

    out.metric("web.extract_s",
               _layer_metrics(out, tracer, "web.extract", "web.extract"), "s")
    out.metric("web.extract_triples", ext.counts["triples"], "count")
    out.metric("web.link_s",
               _layer_metrics(out, tracer, "web.link", "web.link"), "s")
    out.metric("web.link_hit_ratio", link.counts["mention_triples"]
               / max(link.counts["literals_scanned"], 1), "ratio")
    out.metric("web.canonicalize_s",
               _layer_metrics(out, tracer, "web.canonicalize",
                              "web.canonicalize"), "s")
    out.metric("web.merged_subjects", canon.counts["merged_subjects"],
               "count")
    out.metric("graph_store.materialize_s",
               _layer_metrics(out, tracer, "graph_store.materialize",
                              "graph_store.materialize"), "s")
    out.metric("graph_store.files_written", mat.counts["files"], "count")
    out.metric("graph_store.bytes_written", mat.counts["bytes"], "bytes")
    _trace_summary(out, tracer, "pages_kg", untraced)

    _store_queries(ctx, out, tracer, root)
    out.metric("html_extract.pages_per_s_1core",
               probes.html_probe(_sample_html(spark, pages_path)), "pages/s")
    _common_end(ctx, out)
    return out


def _traced_pages(ctx: Ctx, tracer: harness.Tracer, pages_path: str,
                  ents: dict) -> str:
    """web_pipeline's stages as separate calls, each forced at its
    boundary; returns the store root it materialized."""
    from pyspark.sql import functions as F

    from rdf_tabular_spark.sinks.graph_store import materialize
    from rdf_tabular_spark.web import (canonicalize_subjects, link_entities,
                                       pages_to_combined_triples)
    spark = ctx.spark
    root = os.path.join(ctx.work, "stores", "traced")
    held: list = []
    with tracer.span("pages_kg"):
        with tracer.span("web.extract") as s:
            base = pages_to_combined_triples(
                spark.read.parquet(pages_path)).persist()
            s.counts["triples"] = base.count()
        with tracer.span("web.link") as s:
            mentions = link_entities(base, ents).persist()
            s.counts["mention_triples"] = mentions.count()
        with tracer.span("web.canonicalize") as s:
            rewritten, mapping = canonicalize_subjects(
                base.unionByName(mentions), releases=held)
            rewritten = rewritten.persist()
            s.counts["triples"] = rewritten.count()
            s.counts["merged_subjects"] = mapping.count()
        with tracer.span("graph_store.materialize") as s:
            manifest = materialize(rewritten, root, "b0")
            s.counts["n_triples"] = manifest["n_triples"]
            s.counts["files"], s.counts["bytes"] = harness.dir_stats(
                os.path.join(root, "data"))
    tracer.named("web.link")[0].counts["literals_scanned"] = base.filter(
        ~F.col("obj_is_iri") & F.col("obj").isNotNull()).count()
    for df in [base, mentions, rewritten, *held]:
        df.unpersist()
    return root


def _sample_html(spark, pages_path: str) -> list[bytes]:
    rows = (spark.read.parquet(pages_path).select("url", "html")
            .orderBy("url").limit(PROBE_PAGES).collect())
    return [bytes(r["html"]) for r in rows]


def _store_queries(ctx: Ctx, out: Outcome, tracer: harness.Tracer,
                   root: str) -> None:
    """Closed loop, one client, over a seeded mix of pruned store reads;
    each count is checked against a plain unpruned filter over
    read_graph."""
    from pyspark.sql import functions as F

    from rdf_tabular_spark.sinks.graph_store import (bgp_match_store,
                                                     predicate_counts,
                                                     read_graph,
                                                     read_predicate,
                                                     read_subject)
    spark = ctx.spark
    rng = random.Random(ctx.seed)
    counts = predicate_counts(spark, root)
    by_size = sorted(counts, key=lambda p: (-counts[p], p))
    half = QUERIES_PER_KIND // 2
    preds = by_size[:half] + by_size[-half:]
    g = read_graph(spark, root)
    subj_preds = (g.groupBy("subj")
                  .agg(F.sort_array(F.collect_set("pred")).alias("ps"))
                  .orderBy("subj").collect())
    subjects = [r["subj"] for r in rng.sample(subj_preds, QUERIES_PER_KIND)]
    multi = [r for r in subj_preds if len(r["ps"]) >= 2]
    stars = [tuple(rng.sample(list(r["ps"]), 2))
             for r in rng.sample(multi, QUERIES_PER_KIND)]
    # expected counts from unpruned filters, computed once
    n_pred = {r["pred"]: r["n"] for r in g.filter(F.col("pred").isin(preds))
              .groupBy("pred").agg(F.count("*").alias("n")).collect()}
    n_subj = {r["subj"]: r["n"] for r in
              g.filter(F.col("subj").isin(subjects))
              .groupBy("subj").agg(F.count("*").alias("n")).collect()}
    star_preds = sorted({p for s in stars for p in s})
    per_sp: dict = {}
    for r in (g.filter(F.col("pred").isin(star_preds))
              .groupBy("subj", "pred").agg(F.count("*").alias("n"))
              .collect()):
        per_sp.setdefault(r["subj"], {})[r["pred"]] = r["n"]
    mix = ([("read_predicate", p, n_pred.get(p, 0)) for p in preds]
           + [("read_subject", s, n_subj.get(s, 0)) for s in subjects]
           + [("bgp", st, sum(d.get(st[0], 0) * d.get(st[1], 0)
                              for d in per_sp.values())) for st in stars])
    rng.shuffle(mix)

    def run(kind, arg) -> int:
        if kind == "read_predicate":
            return read_predicate(spark, root, arg).count()
        if kind == "read_subject":
            return read_subject(spark, root, arg).count()
        return bgp_match_store(spark, root, [("?s", arg[0], "?a"),
                                             ("?s", arg[1], "?b")]).count()

    for kind, arg, _want in mix[:QUERY_WARMUP]:
        run(kind, arg)
    lat: dict = {"read_predicate": [], "read_subject": [], "bgp": []}
    busy, i = 0.0, 0
    while i < len(mix) or busy < ctx.seconds:
        kind, arg, want = mix[i % len(mix)]
        out.attempted += 1
        with tracer.span(f"graph_store.{kind}") as s:
            got = run(kind, arg)
        busy += s.seconds
        if out.check(got == want, f"{kind}({arg}): {got} rows, "
                     f"unpruned filter gives {want}"):
            lat[kind].append(s.seconds * 1000)
        else:
            out.failed += 1
        i += 1
    every = [x for v in lat.values() for x in v]
    for kind, v in lat.items():
        out.metric(f"graph_store.{kind}_ms",
                   statistics.median(v) if v else 0, "ms")
    names = [f"graph_store.{kind}" for kind in lat]
    input_mb = sum(s.stages["input_mb"] for n in names
                   for s in tracer.named(n))
    out.metric("graph_store.scan_mb_per_query", input_mb / i, "MB")
    out.metric("graph_store.query_p50_ms", statistics.median(every), "ms")
    out.metric("graph_store.query_p90_ms", harness.quantile(every, 90), "ms")
    out.metric("graph_store.query_samples", len(every), "count")
    out.metric("graph_store.queries_per_s", i / busy, "1/s")
    _layer_metrics(out, tracer, names, "graph_store.query")


WORKLOADS = {"csvw_lineitem": csvw_lineitem, "pages_kg": pages_kg}
