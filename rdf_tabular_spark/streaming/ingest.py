"""Structured Streaming ingest: incremental pages → triples.

The reference is strictly batch (SURVEY.md §2.7: no streaming anywhere in
lib/); this is the Spark-native generalization for a continuously-crawled
corpus: new page files land in the input directory (the streaming face of
an Iceberg append), each micro-batch runs the SAME stage-1+2 Arrow kernel
as the batch path (``web.pages_to_triples`` — mapInPandas is streaming-
compatible because it is stateless per batch), and the sink checkpoints
progress so a crashed or re-run job resumes exactly where it left off
without reprocessing (file-source + checkpoint = exactly-once file
accounting; complements the batch layer's per-batch manifests in
sinks/graph_store.py).

``Trigger.AvailableNow`` drains everything pending then stops — the
cron-style incremental-batch mode a 10^12-doc pipeline actually runs
(continuous triggers hold executors hostage between crawl drops).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.pages import PAGES_SCHEMA


def read_page_stream(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: Optional[int] = None) -> DataFrame:
    """File-source stream over a pages directory (url, warc_ts, html, text,
    lang). ``maxFilesPerTrigger`` bounds micro-batch size so one giant crawl
    drop cannot blow executor memory."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def stream_pages_to_triples(spark: SparkSession, input_dir: str, out_dir: str,
                            checkpoint_dir: str,
                            default_meta: Optional[dict] = None,
                            available_now: bool = True,
                            max_files_per_trigger: Optional[int] = None):
    """pages stream → triples parquet, checkpointed. Returns the query.

    The transformation is identical to the batch path (one narrow Arrow
    stage, no shuffle), so the streaming plan is just: file scan →
    mapInPandas → file sink. Resume = re-run with the same checkpoint dir.
    """
    from ..web import pages_to_triples
    pages = read_page_stream(spark, input_dir, max_files_per_trigger)
    triples = pages_to_triples(pages, default_meta=default_meta)
    writer = (triples.writeStream
              .format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def triples_rate_per_host(spark: SparkSession, input_dir: str, out_dir: str,
                          checkpoint_dir: str,
                          default_meta: Optional[dict] = None,
                          window: str = "1 minute",
                          watermark: str = "10 minutes",
                          available_now: bool = True):
    """Watermarked windowed aggregation: triples/min per host keyed on the
    page's WARC capture time — the late-data-tolerant ops metric stream.

    One shuffle on (window, host); state is bounded by the watermark, so
    this runs indefinitely at constant memory per key — the Structured
    Streaming answer to the north rule's per-partition metrics requirement.
    """
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType, TimestampType)
    from ..sources.html_extract import map_pages
    from ..web import _table_triples
    pages = read_page_stream(spark, input_dir)
    table_triples = _table_triples(default_meta, True, 1)

    counts_schema = StructType([
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("n_triples", LongType(), False),
    ])

    def count(row, page):
        # per-page triple counts computed in-kernel: no stream-stream join,
        # no triple rows shuffled — only (url, ts, count) reaches the agg
        return [(row.url, row.warc_ts, len(table_triples(row, page)))]

    counts = map_pages(pages, count, counts_schema)
    host = F.regexp_extract("url", r"^[a-z]+://([^/]+)/", 1)
    agg = (counts.withColumn("host", host)
           .withWatermark("warc_ts", watermark)
           .groupBy(F.window("warc_ts", window), F.col("host"))
           .agg(F.sum("n_triples").alias("n_triples"))
           .select(F.col("window.start").alias("window_start"),
                   "host", "n_triples"))
    writer = (agg.writeStream
              .format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup_exact(spark: SparkSession, input_dir: str, out_dir: str,
                       checkpoint_dir: str, available_now: bool = True):
    """Cross-batch streaming exact dedup — the custom stateful operator tier
    (``applyInPandasWithState``): the first page seen for each distinct text
    hash is emitted, every later arrival (same micro-batch, later batch, or
    after a restart) is dropped. State per key is one boolean, checkpointed
    with the query, so a crashed run resumes with its dedup memory intact.

    Plan shape at scale: one shuffle on the md5 key (same as the batch
    exact-dedup groupBy), then per-key state lookups; state volume is one
    row per distinct document — the streaming face of
    operators/dedup.exact_dedup_groups.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (StringType, StructField, StructType,
                                   TimestampType)

    pages = read_page_stream(spark, input_dir)
    keyed = pages.select(
        F.md5(F.col("text")).alias("dup_key"), "url", "warc_ts", "text")

    out_schema = StructType([
        StructField("dup_key", StringType(), False),
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("text", StringType(), True),
    ])
    state_schema = StructType([StructField("seen", StringType(), True)])

    def dedup_fn(key, pdfs, state: GroupState):
        import pandas as pd
        if state.exists:
            # key already emitted in an earlier micro-batch — drain and drop
            for _ in pdfs:
                pass
            return
        first = None
        for pdf in pdfs:
            if pdf.empty:
                continue
            # deterministic representative within the batch: min url
            cand = pdf.sort_values("url").iloc[[0]]
            if first is None or cand.iloc[0]["url"] < first.iloc[0]["url"]:
                first = cand
        if first is not None:
            state.update(("1",))
            yield first[["dup_key", "url", "warc_ts", "text"]]

    deduped = keyed.groupBy("dup_key").applyInPandasWithState(
        dedup_fn, outputStructType=out_schema, stateStructType=state_schema,
        outputMode="append", timeoutConf=GroupStateTimeout.NoTimeout)
    writer = (deduped.writeStream
              .format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_minhash_pairs(spark: SparkSession, input_dir: str, out_dir: str,
                         checkpoint_dir: str, num_perm: int = 8,
                         rows_per_band: int = 2, n: int = 3,
                         threshold: float = 0.5, max_bucket: int = 256,
                         available_now: bool = True):
    """Cross-batch streaming near-dedup candidates: MinHash-LSH with
    per-bucket signature state (``applyInPandasWithState``).

    Each arriving page's md5-MinHash signature (the same construction as
    :func:`operators.dedup.minhash_md5_sig_df`) is banded; per LSH bucket
    the state keeps the signatures seen so far (capped at ``max_bucket``,
    like the batch tier), and every new arrival whose estimated Jaccard
    against a stored signature clears ``threshold`` emits a candidate pair
    ``(a, b, est_sim)`` — even when the two pages arrived in different
    micro-batches or across a restart (state is checkpointed with the
    query). Pairs may repeat across bands; consumers ``distinct()`` them,
    exactly as the batch band join does.

    Plan shape at scale: one narrow Arrow signature kernel, one shuffle on
    the band key (the streaming face of the batch banded self-join); state
    volume is one signature per document per band, capped per bucket.
    """
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (DoubleType, StringType, StructField,
                                   StructType)

    from ..operators.dedup import _md5_minhash_rows
    from ..session import ensure_package_on_executors
    ensure_package_on_executors(spark)

    pages = read_page_stream(spark, input_dir)
    num_bands = num_perm // rows_per_band

    sig_schema = StructType([StructField("url", StringType(), False),
                             StructField("sig", StringType(), True)])

    def sig_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = []
            for text in pdf["text"]:
                _, s = _md5_minhash_rows([0], [text], num_perm, n)
                sigs.append(None if s[0][0] is None else "|".join(s[0]))
            yield pd.DataFrame({"url": pdf["url"], "sig": sigs})

    sigs = (pages.mapInPandas(sig_kernel, schema=sig_schema)
            .filter(F.col("sig").isNotNull()))
    sig_arr = F.split("sig", r"\|")
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.md5(F.concat_ws(",", F.slice(sig_arr, b * rows_per_band + 1,
                                           rows_per_band))).alias("band_key")))
    banded = (sigs.select("url", "sig", F.explode(bands).alias("bk"))
              .select("url", "sig", F.col("bk.band").alias("band"),
                      F.col("bk.band_key").alias("band_key")))

    out_schema = StructType([
        StructField("a", StringType(), False),
        StructField("b", StringType(), False),
        StructField("est_sim", DoubleType(), False),
    ])
    # parallel \x01-joined lists (state structs carry scalars only)
    state_schema = StructType([StructField("urls", StringType(), True),
                               StructField("sigs", StringType(), True)])

    def pair_fn(key, pdfs, state: GroupState):
        urls, sigs_ = [], []
        if state.exists:
            u, s = state.get
            if u:
                urls, sigs_ = u.split("\x01"), s.split("\x01")
        rows = pd.concat(list(pdfs), ignore_index=True) if pdfs else None
        out = []
        if rows is not None and not rows.empty:
            # deterministic arrival order inside a micro-batch
            rows = rows.sort_values("url")
            for url, sig in zip(rows["url"], rows["sig"]):
                if url in urls:
                    continue  # replay / duplicate delivery
                parts = sig.split("|")
                for seen_url, seen_sig in zip(urls, sigs_):
                    sp = seen_sig.split("|")
                    est = sum(x == y for x, y in zip(parts, sp)) / num_perm
                    if est >= threshold:
                        a, b = sorted((seen_url, url))
                        out.append((a, b, est))
                if len(urls) < max_bucket:
                    urls.append(url)
                    sigs_.append(sig)
            state.update(("\x01".join(urls), "\x01".join(sigs_)))
        if out:
            yield pd.DataFrame(out, columns=["a", "b", "est_sim"])

    pairs = banded.groupBy("band", "band_key").applyInPandasWithState(
        pair_fn, outputStructType=out_schema, stateStructType=state_schema,
        outputMode="append", timeoutConf=GroupStateTimeout.NoTimeout)
    writer = (pairs.writeStream
              .format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_curate_pages(spark: SparkSession, input_dir: str, out_dir: str,
                        checkpoint_dir: str,
                        available_now: bool = True,
                        max_files_per_trigger: Optional[int] = None):
    """Streaming curation: PII-scrub incoming page text and attach the
    quality decision (operators/curate.scrub_pii +
    curate-style gopher/langid columns) as new pages land. Returns the
    started query.

    Everything here is a stateless Column projection, so the streaming
    plan is file scan → project → file sink: no state store, no shuffle,
    and the micro-batch is exactly the batch-path semantics (the
    duplicate rule needs cross-batch state and lives in
    ``stream_dedup_exact``; compose the two sinks for the full report).
    """
    from ..operators import curate as C
    from ..operators import text as T
    pages = read_page_stream(spark, input_dir, max_files_per_trigger)
    pred = T.lang_id(F.col("text"))
    lang_known = F.col("lang").isin(*T.LANG_ORDER)
    reason = (F.when(~T.gopher_pass(F.col("text")), F.lit("gopher"))
              .when(lang_known & (pred != F.col("lang")),
                    F.lit("lang_mismatch"))
              .otherwise(F.lit("keep")))
    counts = C.pii_counts(F.col("text"))
    curated = pages.select(
        "url", "warc_ts", "lang",
        C.scrub_pii(F.col("text")).alias("text"),
        *[v.alias(k) for k, v in counts.items()],
        reason.alias("reason"),
        (reason == "keep").alias("keep"))
    writer = (curated.writeStream
              .format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ntriples_to_store(spark: SparkSession, input_dir: str,
                             store_root: str, checkpoint_dir: str,
                             available_now: bool = True,
                             strict: bool = False,
                             batch_prefix: str = "stream"):
    """Streaming RDF ingest with END-TO-END exactly-once: .nt files land
    in ``input_dir``, each micro-batch parses through the shared Arrow
    kernel (sources/ntriples_source.nt_lines_kernel) and commits into the
    graph store via ``materialize`` under the deterministic batch id
    ``{batch_prefix}-{epoch:08d}``.

    Exactly-once composition: the file source + checkpoint guarantee each
    input file belongs to exactly one epoch, and a crash-replayed epoch
    re-runs with the SAME epoch id — which materialize's manifest commit
    turns into a no-op (sinks/graph_store.py idempotence). foreachBatch
    alone is at-least-once; the manifest makes the sink idempotent, which
    is the standard recipe for exactly-once foreachBatch sinks.
    """
    from ..operators.triples import TRIPLE_SCHEMA
    from ..session import ensure_package_on_executors
    from ..sinks.graph_store import materialize
    from ..sources.ntriples_source import nt_lines_kernel
    ensure_package_on_executors(spark)
    triples = (spark.readStream.text(input_dir)
               .mapInPandas(nt_lines_kernel(strict), schema=TRIPLE_SCHEMA))

    def commit(batch_df, epoch_id: int) -> None:
        materialize(batch_df, store_root,
                    f"{batch_prefix}-{epoch_id:08d}",
                    lineage={"source": "stream", "input_dir": input_dir,
                             "epoch": epoch_id})

    writer = (triples.writeStream
              .foreachBatch(commit)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_pages_to_store(spark: SparkSession, input_dir: str,
                          store_root: str, checkpoint_dir: str,
                          default_meta: Optional[dict] = None,
                          entity_dict: Optional[dict] = None,
                          available_now: bool = True,
                          max_files_per_trigger: Optional[int] = None,
                          batch_prefix: str = "crawl",
                          combined: bool = False,
                          respect_noindex: bool = False):
    """Continuous KG construction: crawled pages land in ``input_dir``,
    each micro-batch runs stages 1-2 (HTML extraction + CSVW triple
    kernel + optional broadcast entity linking — all narrow, identical
    to the batch path) and commits into the graph store under the
    deterministic id ``{batch_prefix}-{epoch:08d}``.

    Exactly-once by the same composition as
    :func:`stream_ntriples_to_store`: file-source checkpoint assigns each
    input file to one epoch, replays reuse the epoch id, and
    ``materialize``'s manifest commit makes the re-run a no-op. Stage 3
    (canonicalization) is deliberately NOT in the per-batch path — it is
    cross-batch by nature; run ``update_sameas_map`` /
    ``canonicalize_subjects``-derived map merges as periodic maintenance
    (sinks/graph_store.merge_mappings), the lambda-architecture split the
    north_rule's checkpoint/lineage design anticipates."""
    from ..session import ensure_package_on_executors
    from ..sinks.graph_store import materialize
    from ..web import (link_entities, pages_to_combined_triples,
                       pages_to_triples)
    ensure_package_on_executors(spark)
    pages = read_page_stream(spark, input_dir, max_files_per_trigger)
    if combined:
        # fused single-parse kernel: tables + microdata + JSON-LD per
        # micro-batch, optional robots-noindex compliance — mapInPandas is
        # streaming-compatible, so batch and stream share the exact stage
        triples = pages_to_combined_triples(
            pages, default_meta=default_meta,
            respect_noindex=respect_noindex)
    else:
        triples = pages_to_triples(pages, default_meta=default_meta)
    if entity_dict:
        triples = triples.unionByName(link_entities(triples, entity_dict))

    def commit(batch_df, epoch_id: int) -> None:
        materialize(batch_df, store_root,
                    f"{batch_prefix}-{epoch_id:08d}",
                    lineage={"source": "stream-pages",
                             "input_dir": input_dir, "epoch": epoch_id})

    writer = (triples.writeStream
              .foreachBatch(commit)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_sessionize(spark: SparkSession, input_dir: str, out_dir: str,
                      checkpoint_dir: str, gap_minutes: int = 30,
                      watermark: str = "1 hour",
                      available_now: bool = True):
    """Event-time session windows over a clickstream — the canonical custom
    stateful operator (``applyInPandasWithState`` + event-time timeout).
    Batch face: queries.events_sessionize; this is the same 30-min-gap
    semantics running incrementally.

    Per user the open session lives in state (start/end micros, count,
    value sum). A new event either extends it (gap ≤ ``gap_minutes``) or
    closes it (emitted immediately, append mode). Sessions with no further
    events close when the WATERMARK passes ``end + gap`` — the event-time
    timeout — so late events inside the watermark still join their
    session, and state never grows past one row per active user.
    Output rows carry epoch-microsecond bounds (integer-exact, matching
    the batch query's convention).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType, TimestampType)

    events_schema = StructType([
        StructField("event_id", LongType(), True),
        StructField("ts", TimestampType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
    ])
    ev = (spark.readStream.schema(events_schema).parquet(input_dir)
          .withWatermark("ts", watermark)
          .select("user_id", "ts", "value"))

    out_schema = StructType([
        StructField("user_id", LongType(), False),
        StructField("start_us", LongType(), False),
        StructField("end_us", LongType(), False),
        StructField("n_events", LongType(), False),
        StructField("sum_value", DoubleType(), False),
    ])
    state_schema = StructType([
        StructField("start_us", LongType(), False),
        StructField("end_us", LongType(), False),
        StructField("n_events", LongType(), False),
        StructField("sum_value", DoubleType(), False),
    ])
    gap_us = gap_minutes * 60 * 1_000_000

    def session_fn(key, pdfs, state: GroupState):
        import pandas as pd
        (uid,) = key
        closed = []
        if state.hasTimedOut:
            s, e, n, sv = state.get
            closed.append((int(uid), int(s), int(e), int(n), float(sv)))
            state.remove()
        else:
            cur = list(state.get) if state.exists else None
            evs = [pdf[["ts", "value"]] for pdf in pdfs if not pdf.empty]
            if evs:
                allp = pd.concat(evs).sort_values("ts")
                us_col = allp["ts"].astype("datetime64[us]").astype("int64")
                for us, val in zip(us_col, allp["value"]):
                    us, val = int(us), float(val)
                    if cur is None:
                        cur = [us, us, 1, val]
                    elif us - cur[1] > gap_us:
                        closed.append((int(uid), cur[0], cur[1],
                                       cur[2], cur[3]))
                        cur = [us, us, 1, val]
                    else:
                        cur[1] = max(cur[1], us)
                        cur[2] += 1
                        cur[3] += val
            if cur is not None:
                state.update(tuple(cur))
                # event-time timeout: fire once the watermark passes
                # session end + gap (milliseconds API)
                state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)
        if closed:
            yield pd.DataFrame(
                closed, columns=["user_id", "start_us", "end_us",
                                 "n_events", "sum_value"])

    sessions = ev.groupBy("user_id").applyInPandasWithState(
        session_fn, outputStructType=out_schema,
        stateStructType=state_schema, outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout)
    writer = (sessions.writeStream
              .format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


DOCS_DDL = ("doc_id long, text string, lang string, source string, "
            "n_chars long")


def stream_docs_dedup_incremental(spark: SparkSession, input_dir: str,
                                  out_dir: str, checkpoint_dir: str,
                                  band_store: str,
                                  available_now: bool = True,
                                  max_files_per_trigger: Optional[int] = None):
    """Continuous incremental near-dedup over a growing document corpus:
    each micro-batch is near-deduped against the ACCUMULATED MinHash band
    store (operators/dedup.incremental_keep — batch bands join stored
    bands; old x old never forms), then survivors land under
    ``out_dir/epoch=N`` and THEIR bands append under
    ``band_store/epoch=N``.

    Replay-safe without a manifest protocol: both writes are per-epoch
    ``overwrite``, and the store read filters to ``epoch < current`` — a
    replayed epoch never sees its own first attempt's bands (which would
    make every document collide with itself) and re-produces byte-identical
    output. The store side of the join is partition-pruned on ``band``;
    state volume is the band table of the KEPT corpus (~50 B/row), not the
    raw crawl.
    """
    from ..operators.dedup import (incremental_keep, minhash_md5_bands,
                                   write_band_store)
    from ..session import ensure_package_on_executors
    ensure_package_on_executors(spark)
    reader = spark.readStream.schema(DOCS_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(input_dir)

    def commit(batch_df, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        try:
            old = (sess.read.option("basePath", band_store)
                   .parquet(band_store)
                   .filter(F.col("epoch").cast("long") < epoch_id)
                   .select("id", "band", "band_key"))
        except Exception:  # first epoch: no store yet
            old = minhash_md5_bands(batch_df).limit(0)
        releases: list = []
        kept = incremental_keep(batch_df, old, releases=releases).persist()
        kept.write.mode("overwrite").parquet(
            f"{out_dir}/epoch={epoch_id:08d}")
        write_band_store(minhash_md5_bands(kept),
                         f"{band_store}/epoch={epoch_id:08d}",
                         mode="overwrite")
        for df in [kept, *releases]:
            df.unpersist()

    writer = (docs.writeStream
              .foreachBatch(commit)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
