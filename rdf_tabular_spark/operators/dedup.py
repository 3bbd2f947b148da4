"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Training-data extensions (SURVEY.md §2.9) over a ``documents`` table.
Two tiers per family:

* an **oracle-parity tier** built only from md5 + array Column expressions,
  bit-identical to the DuckDB SQL the driver cross-checks (md5 is the one
  hash both engines share) — correctness evidence;
* the **scale tier** in :mod:`.minhash` (numpy signatures + xxhash64 band
  join), same plan shape with cheaper hashes — what you run on 100 TB.

Plan shapes (what matters at 1000 executors):
  exact:    one shuffle — groupBy(md5(text)); map-side partial agg applies.
  minhash:  narrow signature projection → explode to thin (band_key, id)
            rows → ONE self-join shuffle on band_key; bucket-size cap guards
            degenerate bands; AQE skew-join handles hot buckets.
  simhash:  narrow projection only (no shuffle); Hamming-join downstream.
  pairwise: quadratic verify runs ONLY on LSH candidates, never the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens, word_ngrams

SIMHASH_BITS = 16


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup → (dup_key, keep_id, n_docs).

    One shuffle on the md5 key; partial aggregation (min/count) combines
    map-side so the shuffle carries one row per distinct hash per task.
    """
    return (df.groupBy(F.md5(F.col(text_col)).alias("dup_key"))
            .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_docs")))


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Keep the min-id representative per identical text."""
    keep = exact_dedup_groups(df, id_col, text_col).select("keep_id")
    # No broadcast hint: keep-ids ≈ one per distinct text — at corpus scale
    # that is nearly every id, far above any safe broadcast threshold. Let
    # AQE pick (it broadcasts anyway when the dedup rate is high and the
    # keep table is small).
    return df.join(keep, df[id_col] == keep["keep_id"], "left_semi")


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.2) -> DataFrame:
    """All-pairs word-n-gram Jaccard ≥ threshold → (a, b, jac).

    Quadratic — the *verification baseline* for small inputs and for LSH
    candidate sets; at corpus scale call :func:`minhash_md5_pairs` (or
    :mod:`.minhash`) to generate candidates first and reuse this only on
    the candidate join.
    """
    sh = df.select(F.col(id_col).cast("long").alias("id"),
                   word_ngrams(F.col(text_col), n).alias("s"))
    a, b = sh.alias("a"), sh.alias("b")
    jac = (F.size(F.array_intersect(F.col("a.s"), F.col("b.s"))).cast("double")
           / F.size(F.array_union(F.col("a.s"), F.col("b.s"))))
    return (a.join(b, F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"),
                    F.round(jac, 4).alias("jac"))
            .filter(F.col("jac") >= threshold))


def _md5_minhash_rows(ids, texts, num_perm: int, n: int):
    """Executor-side md5-MinHash: sig_i = lexical min over word-n-gram
    shingles of md5(i || ':' || shingle). Bit-identical to the SQL oracle
    (same md5, same shingling) but ~100× cheaper than interpreted
    higher-order Column eval — hashlib inside an Arrow batch."""
    import hashlib
    import re
    out_ids, out_sigs = [], []
    ws = re.compile(r"\s+")
    for rid, text in zip(ids, texts):
        toks = ws.split(str(text or "").strip())
        grams = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)} \
            if len(toks) >= n else set()
        sig = []
        for p in range(num_perm):
            prefix = f"{p}:".encode()
            sig.append(min(
                (hashlib.md5(prefix + g.encode()).hexdigest() for g in grams),
                default=None))
        out_ids.append(int(rid))
        out_sigs.append(sig)
    return out_ids, out_sigs


def minhash_md5_sig_df(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", num_perm: int = 8,
                       n: int = 3) -> DataFrame:
    """→ (id: long, sig: array<string>) via one Arrow-batched kernel.

    Narrow, no shuffle. The Column-expression construction of the same
    signature (transform/array_min/md5) is oracle-equivalent but runs in
    Catalyst's interpreted HOF evaluator at ~17µs/hash — the kernel form is
    the one that survives a 100 TB corpus.
    """
    from pyspark.sql.types import (ArrayType, LongType, StringType,
                                   StructField, StructType)
    import pandas as pd

    from ..session import ensure_package_on_executors
    ensure_package_on_executors(df.sparkSession)

    schema = StructType([StructField("id", LongType(), False),
                         StructField("sig", ArrayType(StringType()), True)])

    def kernel(batches):
        for pdf in batches:
            ids, sigs = _md5_minhash_rows(pdf[id_col], pdf[text_col],
                                          num_perm, n)
            yield pd.DataFrame({"id": ids, "sig": sigs})

    return df.mapInPandas(kernel, schema=schema)


def minhash_md5_signatures(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", num_perm: int = 8,
                           n: int = 3) -> DataFrame:
    """→ (id, sig flattened to one '|'-joined string) for the hash-compare."""
    sigs = minhash_md5_sig_df(df, id_col, text_col, num_perm, n)
    return sigs.select("id", F.concat_ws("|", "sig").alias("sig"))


def minhash_md5_bands(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", num_perm: int = 8,
                      rows_per_band: int = 2, n: int = 3) -> DataFrame:
    """→ thin (id, band, band_key) rows: md5 of each signature band.

    The signature array is **persisted** before banding: every downstream
    branch (self-join sides, distinct) would otherwise re-evaluate the full
    shingle+md5 expression tree per branch — the classic recompute trap with
    DAG reuse. The persisted projection is tiny (id + k hex strings ≈ 300 B
    per doc, ~0.03% of corpus bytes at web scale).

    The explode inflates rows num_bands× but each row is ~50 bytes — the
    shuffle that follows (band-key self-join) moves O(corpus × bands) tiny
    rows, not documents.
    """
    num_bands = num_perm // rows_per_band
    # Docs with < n tokens have no shingles → all-NULL signatures; concat_ws
    # skips NULLs, so without this filter every short doc would land in the
    # md5('') bucket and pair with every other short doc (and diverge from
    # the SQL oracle, whose NULL band keys never join). Drop them before
    # banding — a doc with no shingles has no similarity evidence.
    sigs = (minhash_md5_sig_df(df, id_col, text_col, num_perm, n)
            .filter(F.col("sig")[0].isNotNull()).persist())
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.md5(F.concat_ws(",", F.slice(F.col("sig"), b * rows_per_band + 1,
                                           rows_per_band))).alias("band_key")))
    return (sigs.select("id", F.explode(bands).alias("bk"))
            .select("id", F.col("bk.band").alias("band"),
                    F.col("bk.band_key").alias("band_key")))


def minhash_md5_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", num_perm: int = 8,
                      rows_per_band: int = 2, n: int = 3) -> DataFrame:
    """LSH candidate pairs: ids sharing any signature band → (a, b) distinct.

    ONE shuffle (self-join on (band, band_key)); candidates are verified by
    exact Jaccard downstream, so false positives only cost a lookup. The
    band table is persisted so the self-join's two sides scan it instead of
    recomputing the signature lineage twice.
    """
    bands = minhash_md5_bands(df, id_col, text_col, num_perm,
                              rows_per_band, n).persist()
    l, r = bands.alias("l"), bands.alias("r")
    return (l.join(r, ["band", "band_key"])
            .filter(F.col("l.id") < F.col("r.id"))
            .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
            .distinct())


def simhash16(text_col: Column) -> Column:
    """16-bit SimHash from the md5 of each token (first 4 hex chars).

    bit b of the fingerprint = majority sign over tokens of bit b.
    Pure Column expressions — narrow, no shuffle; near-dup = small Hamming
    distance, joined via rotated-prefix buckets at scale.
    """
    toks = tokens(text_col)
    tokvals = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("long"))
    out = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        ones = F.size(F.filter(tokvals,
                               lambda v: v.bitwiseAND(F.lit(1 << b)) != 0))
        bit = (ones * 2 > F.size(tokvals)).cast("long")
        out = out + bit * F.lit(1 << b)
    return out


def simhash_fingerprints(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    return df.select(F.col(id_col).cast("long").alias("id"),
                     simhash16(F.col(text_col)).alias("simhash"))


def hamming16(a: Column, b: Column) -> Column:
    """Popcount of XOR over 16 bits (bit_count is in both engines)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs by banded buckets (Hamming ≤ max_hamming).

    Splits the 16-bit fingerprint into (max_hamming+1) bands — pigeonhole:
    any pair within the Hamming radius shares ≥1 exact band — then verifies
    the distance on the banded candidates. Same ONE-shuffle shape as LSH.
    """
    nb = max_hamming + 1
    width = SIMHASH_BITS // nb
    fps = simhash_fingerprints(df, id_col, text_col)
    bands = F.array(*[
        F.struct(
            F.lit(i).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), i * width)
            .bitwiseAND(F.lit((1 << width) - 1)).alias("band_key"))
        for i in range(nb)])
    exploded = fps.select("id", "simhash", F.explode(bands).alias("bk")) \
        .select("id", "simhash", F.col("bk.band").alias("band"),
                F.col("bk.band_key").alias("band_key"))
    l, r = exploded.alias("l"), exploded.alias("r")
    return (l.join(r, ["band", "band_key"])
            .filter(F.col("l.id") < F.col("r.id"))
            .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"),
                    hamming16(F.col("l.simhash"), F.col("r.simhash")).alias("dist"))
            .filter(F.col("dist") <= max_hamming)
            .distinct())


SIMHASH48_BITS = 48


def simhash48(text_col: Column) -> Column:
    """48-bit SimHash (production width): 16-bit fingerprints have only 65k
    distinct values — at 10^12 docs every value holds ~10^7 docs and the
    fingerprint stops discriminating. 48 bits keep the whole value in a
    non-negative bigint in BOTH engines (no sign/overflow edge cases at
    bit 63), with 2^48 buckets. Token bits come from the first 12 hex chars
    of md5 (same construction as the 16-bit tier, widened)."""
    toks = tokens(text_col)
    tokvals = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 12), 16, 10)
        .cast("long"))
    out = F.lit(0).cast("long")
    for b in range(SIMHASH48_BITS):
        ones = F.size(F.filter(tokvals,
                               lambda v: v.bitwiseAND(F.lit(1 << b)) != 0))
        bit = (ones * 2 > F.size(tokvals)).cast("long")
        out = out + bit * F.lit(1 << b)
    return out


def simhash48_fingerprints(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    return df.select(F.col(id_col).cast("long").alias("id"),
                     simhash48(F.col(text_col)).alias("simhash"))


def simhash48_near_pairs(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         max_hamming: int = 5) -> DataFrame:
    """48-bit banded near-pairs: (max_hamming+1) bands of 48/(h+1) bits —
    pigeonhole-complete for Hamming ≤ max_hamming, same ONE-shuffle shape
    as the 16-bit tier but with bucket populations that survive corpus
    scale."""
    nb = max_hamming + 1
    width = SIMHASH48_BITS // nb
    fps = simhash48_fingerprints(df, id_col, text_col)
    bands = F.array(*[
        F.struct(
            F.lit(i).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), i * width)
            .bitwiseAND(F.lit((1 << width) - 1)).alias("band_key"))
        for i in range(nb)])
    exploded = fps.select("id", "simhash", F.explode(bands).alias("bk")) \
        .select("id", "simhash", F.col("bk.band").alias("band"),
                F.col("bk.band_key").alias("band_key"))
    l, r = exploded.alias("l"), exploded.alias("r")
    return (l.join(r, ["band", "band_key"])
            .filter(F.col("l.id") < F.col("r.id"))
            .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"),
                    F.bit_count(F.col("l.simhash")
                                .bitwiseXOR(F.col("r.simhash"))).alias("dist"))
            .filter(F.col("dist") <= max_hamming)
            .distinct())


def edit_verified_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", max_hamming: int = 5,
                        min_sim: float = 0.5) -> DataFrame:
    """Edit-distance verification of banded SimHash candidates →
    ``(a, b, edit_sim)`` with ``edit_sim = 1 - lev(a,b)/max(len)``.

    The cascade shape that survives corpus scale: candidate generation is
    the pigeonhole band join (:func:`simhash48_near_pairs` — never
    all-pairs), and only candidates pay the O(|a|·|b|) Levenshtein, fetched
    by TWO id-equi-joins that ship each text once per candidate edge. Both
    engines spell ``levenshtein`` identically, so the similarity is
    oracle-exact (integer distance / integer max-length, rounded at 4).
    """
    cands = simhash48_near_pairs(df, id_col, text_col, max_hamming)
    texts = df.select(F.col(id_col).cast("long").alias("tid"),
                      F.col(text_col).alias("t"))
    j = (cands
         .join(texts.select(F.col("tid").alias("a"), F.col("t").alias("ta")),
               "a")
         .join(texts.select(F.col("tid").alias("b"), F.col("t").alias("tb")),
               "b"))
    sim = F.round(
        1 - F.levenshtein("ta", "tb").cast("double")
        / F.greatest(F.length("ta"), F.length("tb")).cast("double"), 4)
    return (j.select("a", "b", sim.alias("edit_sim"))
            .filter(F.col("edit_sim") >= min_sim))


def remove_repeated_lines(docs: DataFrame, min_docs: int = 3,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """C4-style boilerplate elimination: drop every LINE that occurs in at
    least ``min_docs`` distinct documents (nav bars, cookie banners, footer
    legalese — the lines that repeat across a crawl), then reassemble each
    document → (id, clean_text, n_kept, n_removed).

    Scale shape: lines are keyed by a 64-bit md5 prefix so the frequency
    groupBy and the back-join shuffle 16-char keys, never the line text on
    the frequency side; the count is distinct-docs (a page repeating its
    own line doesn't make it boilerplate). Reassembly sorts per-doc by
    line position inside an array — deterministic, no window. The md5 key
    is the same hash family as the MinHash oracle tier, so the whole
    operator is DuckDB-mirrorable (queries._DEDUP_CORPUS_LINES_SQL).
    """
    lines = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"))
    key = F.substring(F.md5(F.col("line").cast("binary")), 1, 16)
    keyed = lines.withColumn("k", key)
    boiler = (keyed.groupBy("k")
              .agg(F.count_distinct("id").alias("n_docs"))
              .filter(F.col("n_docs") >= min_docs)
              .select("k"))
    kept = keyed.join(boiler, "k", "left_anti")
    removed_counts = (keyed.join(boiler, "k")
                      .groupBy("id").agg(F.count("*").alias("n_removed")))
    out = (kept.groupBy("id")
           .agg(F.array_sort(F.collect_list(F.struct("pos", "line")))
                 .alias("a"))
           .select(F.col("id"),
                   F.concat_ws("\n", F.expr("transform(a, s -> s.line)"))
                    .alias("clean_text"),
                   F.size("a").cast("long").alias("n_kept")))
    return (out.join(removed_counts, "id", "left")
            .select(F.col("id").alias(id_col), "clean_text", "n_kept",
                    F.coalesce("n_removed", F.lit(0)).cast("long")
                     .alias("n_removed")))


def duplicated_span_stats(docs: DataFrame, key: str = "doc_id",
                          text_col: str = "text", k: int = 8) -> DataFrame:
    """Exact duplicated-span statistics (Lee et al. 2021 "Deduplicating
    Training Data Makes Language Models Better", §3 EXACTSUBSTR, at token
    rather than BPE granularity): a k-token window whose exact text occurs
    in ≥ 2 distinct documents is a duplicated span. Returns per document
    (key, n_spans, n_dup_spans, dup_ratio) — the fraction of the
    document's windows that are cross-document duplicates, the signal used
    to cut or down-weight boilerplate-heavy documents.

    Shape at scale: windows are md5-hashed to a narrow (key, h) stream —
    the k-gram strings themselves never shuffle; one groupBy on h finds
    cross-document hashes (map-side partial agg), one hash-join back
    tags each window, one groupBy on key re-aggregates. Suffix-array
    EXACTSUBSTR finds *maximal* duplicated substrings; fixed-k windows
    are its shuffle-friendly approximation (every duplicated substring of
    length ≥ k is covered by at least one shared window).
    """
    from . import text as T
    # positions matter here, so no distinct: count each window occurrence
    spans = (docs.select(F.col(key),
                         F.explode(T.word_ngrams_all(F.col(text_col), n=k))
                         .alias("gram"))
             .select(key, F.md5(F.col("gram")).alias("h")))
    cross = (spans.groupBy("h")
             .agg(F.countDistinct(key).alias("n_docs"))
             .where(F.col("n_docs") >= 2)
             .select("h"))
    tagged = spans.join(cross.withColumn("dup", F.lit(True)), "h", "left")
    return (tagged.groupBy(key)
            .agg(F.count("*").alias("n_spans"),
                 F.sum(F.when(F.col("dup"), 1).otherwise(0)).cast("long")
                 .alias("n_dup_spans"))
            .join(docs.select(key), key, "right")
            .select(F.col(key),
                    F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
                    F.coalesce(F.col("n_dup_spans"), F.lit(0))
                    .alias("n_dup_spans"))
            .withColumn("dup_ratio",
                        F.round(F.when(F.col("n_spans") > 0,
                                       F.col("n_dup_spans")
                                       / F.col("n_spans"))
                                .otherwise(F.lit(0.0)), 4)))


def latest_snapshot(df: DataFrame, key_col: str = "url",
                    ts_col: str = "warc_ts",
                    tiebreak_col: str | None = "html") -> DataFrame:
    """Recrawl dedup: keep exactly ONE row per ``key_col`` — the one with
    the greatest ``ts_col`` (the latest crawl snapshot of each URL). The
    Common-Crawl ingest primitive: N monthly crawls of the same corpus
    collapse to the freshest capture before any downstream stage runs.

    ONE keyed shuffle via groupBy + max_by with full map-side partial
    aggregation (beats a row_number window, which cannot combine
    map-side). Ties on ``ts_col`` (two captures in the same second) break
    deterministically on md5 of ``tiebreak_col`` so reruns and retried
    tasks pick the same winner. Key cardinality ~= corpus size, so no
    skew: every group has crawl-count-many rows.
    """
    order = [F.col(ts_col)]
    if tiebreak_col is not None:
        order.append(F.md5(F.col(tiebreak_col).cast("binary")))
    packed = F.struct(*[F.col(c) for c in df.columns])
    won = (df.groupBy(key_col)
             .agg(F.max_by(packed, F.struct(*order)).alias("_row")))
    return won.select(*[F.col(f"_row.{c}").alias(c) for c in df.columns])


# ---------------------------------------------------------------------------
# incremental (cross-snapshot) near-dedup — the continuous-ingestion path
# ---------------------------------------------------------------------------

def write_band_store(bands: DataFrame, path: str, mode: str = "append") -> None:
    """Persist a batch's (id, band, band_key) MinHash band table, partitioned
    by ``band`` so the incremental join's store side reads pruned.

    The accumulated corpus is represented ONLY by this thin table (~50 B/row
    ≈ 0.05% of corpus bytes at web scale): each arriving crawl batch appends
    its own bands after deduplication, so the store grows with the kept
    corpus, never with raw crawl volume."""
    bands.write.mode(mode).partitionBy("band").parquet(path)


def read_band_store(spark, path: str) -> DataFrame:
    return spark.read.parquet(path).select("id", "band", "band_key")


def incremental_md5_pairs(new_df: DataFrame, old_bands: DataFrame,
                          id_col: str = "doc_id", text_col: str = "text",
                          num_perm: int = 8, rows_per_band: int = 2,
                          n: int = 3) -> DataFrame:
    """Candidate near-dup pairs of a NEW crawl batch against an EXISTING
    corpus's band table → distinct (new_id, old_id).

    The incremental tier of MinHash-LSH dedup: signatures and bands are
    computed for the arriving batch ALONE (narrow Arrow kernel + explode),
    then equi-joined against the stored bands — old x old is never formed,
    so re-deduplicating a 100 TB corpus on every daily batch costs
    O(batch + touched buckets) instead of O(corpus). Same one-shuffle plan
    shape as :func:`minhash_md5_pairs`; with the store written through
    :func:`write_band_store` the join's store side is partition-pruned on
    ``band``.
    """
    nb = minhash_md5_bands(new_df, id_col, text_col, num_perm,
                           rows_per_band, n)
    return (nb.alias("n").join(old_bands.alias("o"), ["band", "band_key"])
            .select(F.col("n.id").alias("new_id"),
                    F.col("o.id").alias("old_id"))
            .distinct())


def incremental_keep(new_df: DataFrame, old_bands: DataFrame,
                     id_col: str = "doc_id", text_col: str = "text",
                     num_perm: int = 8, rows_per_band: int = 2,
                     n: int = 3, releases: list | None = None) -> DataFrame:
    """New-batch survivors under incremental near-dedup: rows of ``new_df``
    with no banded collision against the stored corpus AND not shadowed by
    a smaller-id candidate inside the batch itself.

    Two thin anti-joins against id projections — the document payload never
    shuffles. Candidate-level suppression (band collision, the
    high-recall gate); verify the pair output by exact n-gram Jaccard (as
    the ``dedup_minhash_verified_pairs`` cascade does) when precision
    matters more than a second join.
    """
    new_bands = minhash_md5_bands(new_df, id_col, text_col, num_perm,
                                  rows_per_band, n).persist()
    if releases is not None:
        releases.append(new_bands)  # caller unpersists after its action
    hit_old = (new_bands.alias("n")
               .join(old_bands.alias("o"), ["band", "band_key"])
               .select(F.col("n.id").alias(id_col)).distinct())
    shadowed = (new_bands.alias("l")
                .join(new_bands.alias("r"), ["band", "band_key"])
                .filter(F.col("l.id") > F.col("r.id"))
                .select(F.col("l.id").alias(id_col)).distinct())
    return (new_df.join(hit_old, on=id_col, how="left_anti")
            .join(shadowed, on=id_col, how="left_anti"))


def blocked_er_name_pairs(df: DataFrame, block_col: str, name_col: str,
                          max_dist: int = 3) -> DataFrame:
    """Blocked entity-resolution candidate pairs over an attribute table →
    ``(block, name_a, name_b, dist, n_pairs)``.

    The classic blocking design (Papadakis et al. survey shape): entities
    are compared ONLY within a blocking-key partition, and the quadratic
    Levenshtein verification runs over DISTINCT (block, name) values —
    vocabulary-sized — never over entity rows; ``n_pairs`` expands each
    surviving name pair back to its entity-pair cardinality
    (``cnt_a * cnt_b``) without ever materializing those pairs. At
    10^9 entities with a sane blocking key this keeps the comparison
    matrix millions of times smaller than row-level all-pairs. Exact
    same-name duplicates are the exact-dedup tier's job and are excluded
    here (``name_a < name_b``).
    """
    names = (df.groupBy(F.col(block_col).alias("block"),
                        F.col(name_col).alias("name"))
             .agg(F.count("*").cast("long").alias("cnt")))
    a, b = names.alias("a"), names.alias("b")
    return (a.join(b, (F.col("a.block") == F.col("b.block"))
                   & (F.col("a.name") < F.col("b.name")))
            .select(F.col("a.block").alias("block"),
                    F.col("a.name").alias("name_a"),
                    F.col("b.name").alias("name_b"),
                    F.levenshtein("a.name", "b.name").cast("long")
                    .alias("dist"),
                    (F.col("a.cnt") * F.col("b.cnt")).cast("long")
                    .alias("n_pairs"))
            .filter(F.col("dist") <= max_dist))


def blocked_er_name_pairs_sql(table: str, block_col: str, name_col: str,
                              max_dist: int = 3) -> str:
    """DuckDB mirror of :func:`blocked_er_name_pairs`."""
    return f"""
with names as (select {block_col} as block, {name_col} as name,
                      cast(count(*) as bigint) as cnt
               from {table} group by 1, 2)
select a.block as block, a.name as name_a, b.name as name_b,
       cast(levenshtein(a.name, b.name) as bigint) as dist,
       cast(a.cnt * b.cnt as bigint) as n_pairs
from names a join names b on a.block = b.block and a.name < b.name
where levenshtein(a.name, b.name) <= {max_dist}
"""


def winnow_fingerprints(docs: DataFrame, k: int = 4, w: int = 4,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
    the MOSS algorithm) → ``(id, fp)``: per sliding window of ``w``
    consecutive word-``k``-gram hashes, keep the window minimum; the
    distinct selected hashes are a position-robust LOCAL fingerprint set
    with a guarantee the global MinHash tier lacks — any shared run of
    ``w + k − 1`` words between two documents yields at least one shared
    fingerprint, which makes it the candidate generator for partial-
    overlap/quotation detection rather than whole-document near-dup.

    Pure array expressions (k-gram transform → hash → window-min
    transform → explode → distinct): narrow until the final distinct, and
    the fingerprint table is the only thing that ever shuffles.  Hash =
    md5 32-bit prefix (the cross-engine-stable choice; xxhash64 at
    production scale).
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    empty = F.array().cast("array<string>")
    # guard BOTH window expansions: F.sequence(1, 0) yields a DESCENDING
    # [1, 0] (step is inferred), not an empty array — a doc shorter than
    # k tokens (or with fewer than w hashes) must produce no fingerprints
    grams = F.when(n >= k, F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)))).otherwise(empty)
    hashes = F.transform(grams, lambda g: F.conv(
        F.substring(F.md5(g), 1, 8), 16, 10).cast("long"))
    nh = F.size(hashes)
    mins = F.when(nh >= w, F.transform(
        F.sequence(F.lit(1), nh - (w - 1)),
        lambda i: F.array_min(F.slice(hashes, i, w)))) \
        .otherwise(F.array().cast("array<long>"))
    return (docs.select(F.col(id_col).alias("id"),
                        F.explode(mins).alias("fp"))
            .distinct()
            .select(F.col("id").alias(id_col), F.col("fp").cast("long")
                    .alias("fp")))


def winnow_fingerprints_sql(docs_sql: str, k: int = 4, w: int = 4,
                            text_expr: str = "text",
                            id_expr: str = "doc_id") -> str:
    """DuckDB oracle for :func:`winnow_fingerprints`."""
    toks = f"string_split_regex(trim({text_expr}), '\\s+')"
    return f"""
with d as (select {id_expr} as id, {toks} as toks from ({docs_sql})),
g as (select id,
             case when len(toks) >= {k} then
               [array_to_string(toks[i : i + {k} - 1], ' ')
                for i in generate_series(1, len(toks) - {k - 1})]
             else [] end as grams
      from d),
h as (select id,
             [('0x' || substr(md5(x), 1, 8))::bigint for x in grams] as hs
      from g),
m as (select id,
             case when len(hs) >= {w} then
               [list_aggregate(hs[i : i + {w} - 1], 'min')
                for i in generate_series(1, len(hs) - {w - 1})]
             else [] end as mins
      from h)
select distinct id as {id_expr}, unnest(mins)::bigint as fp from m
"""


def winnow_overlap_pairs(docs: DataFrame, k: int = 4, w: int = 4,
                         min_shared: int = 2,
                         max_fp_docs: int | None = 1000,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Partial-overlap candidate pairs from winnowing fingerprints →
    ``(a, b, n_shared)`` with ``a < b`` — quotation/boilerplate-overlap
    detection at corpus scale.

    Same cap discipline as the LSH bucket cap: candidate generation is a
    fingerprint equi-join (never all-pairs), and ``max_fp_docs`` drops
    stop-fingerprints (a hash carried by more documents contributes pairs
    quadratically but almost no overlap signal).  ``min_shared`` then
    prunes the accidental single-collision tail.
    """
    fps = winnow_fingerprints(docs, k=k, w=w, text_col=text_col,
                              id_col=id_col)
    if max_fp_docs is not None:
        hot = (fps.groupBy("fp").agg(F.count("*").alias("nd"))
               .where(F.col("nd") > max_fp_docs).select("fp"))
        fps = fps.join(hot, "fp", "left_anti")
    l = fps.withColumnRenamed(id_col, "a")
    r = fps.withColumnRenamed(id_col, "b")
    return (l.join(r, "fp")
            .where(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").cast("long").alias("n_shared"))
            .where(F.col("n_shared") >= min_shared))


def winnow_overlap_pairs_sql(docs_sql: str, k: int = 4, w: int = 4,
                             min_shared: int = 2,
                             max_fp_docs: int | None = 1000,
                             text_expr: str = "text",
                             id_expr: str = "doc_id") -> str:
    """DuckDB oracle for :func:`winnow_overlap_pairs`."""
    fps = winnow_fingerprints_sql(docs_sql, k=k, w=w, text_expr=text_expr,
                                  id_expr=id_expr)
    cap = (f"where fp not in (select fp from fps group by fp"
           f" having count(*) > {max_fp_docs})"
           if max_fp_docs is not None else "")
    return f"""
with fps as ({fps}),
kept as (select * from fps {cap})
select l.{id_expr} as a, r.{id_expr} as b,
       count(*)::bigint as n_shared
from kept l join kept r on l.fp = r.fp and l.{id_expr} < r.{id_expr}
group by a, b having count(*) >= {min_shared}
"""


# --- exact repeated-substring dedup (round 5) --------------------------------
# The "Deduplicating Training Data Makes Language Models Better" operation
# (Lee et al. 2022), Spark-first: instead of a monolithic suffix array, a
# k-token shingle table + one hash-keyed aggregation finds every token run
# of length >= k repeated across >= min_docs documents; per-document island
# merging (one window) collapses overlapping hits into maximal spans, and
# the scrub tier rebuilds the text without them. Every step is a keyed
# shuffle or a window — no all-pairs, no driver-side corpus state — and the
# same relational plan runs verbatim in the DuckDB oracle.

def repeated_substring_spans(docs: DataFrame, k: int = 8, min_docs: int = 2,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """Maximal per-document token spans covered by any k-token shingle that
    occurs in >= ``min_docs`` DISTINCT documents → (id, span_start,
    span_end), 1-based inclusive token positions.

    Plan: shingle explode (narrow, JVM transform/slice — no Python),
    count-distinct per shingle hash (ONE aggregation, never a doc-list
    materialization, so a boilerplate shingle shared by 10^8 pages costs a
    counter, not a list), semi-join back, and the classic running-max
    island merge per document (one window). Overlapping hits merge;
    adjacent-but-disjoint spans stay separate (deterministic either way).
    """
    from pyspark.sql import Window
    toks = docs.select(F.col(id_col).alias("id"),
                       F.split(F.col(text_col), r"\s+").alias("t"))
    sh = (toks.filter(F.size("t") >= k)
          .select("id", F.explode(F.expr(
              f"transform(sequence(1, size(t)-{k}+1), i -> "
              f"struct(i as pos, array_join(slice(t, i, {k}), ' ') as s))"))
              .alias("e"))
          .select("id", F.col("e.pos").alias("pos"),
                  F.md5(F.col("e.s")).alias("h")))
    rep = (sh.groupBy("h")
           .agg(F.countDistinct("id").alias("nd"))
           .where(F.col("nd") >= min_docs).select("h"))
    hits = (sh.join(rep, "h")
            .select("id", F.col("pos").alias("start"),
                    (F.col("pos") + F.lit(k - 1)).alias("end")))
    prev = Window.partitionBy("id").orderBy("start", "end") \
        .rowsBetween(Window.unboundedPreceding, -1)
    run = Window.partitionBy("id").orderBy("start", "end") \
        .rowsBetween(Window.unboundedPreceding, 0)
    islands = (hits
               .withColumn("prev_max", F.max("end").over(prev))
               .withColumn("brk", F.when(
                   F.col("prev_max").isNull()
                   | (F.col("start") > F.col("prev_max")), 1).otherwise(0))
               .withColumn("island", F.sum("brk").over(run)))
    return (islands.groupBy("id", "island")
            .agg(F.min("start").alias("span_start"),
                 F.max("end").cast("long").alias("span_end"))
            .select(F.col("id").alias(id_col),
                    F.col("span_start").cast("long").alias("span_start"),
                    F.col("span_end")))


def scrub_repeated_substrings(docs: DataFrame, k: int = 8, min_docs: int = 2,
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              min_span_tokens: int | None = None
                              ) -> DataFrame:
    """Remove every repeated-substring span from each document →
    (id, clean_text, n_removed). Documents with no repeated span pass
    through unchanged (n_removed = 0); a fully-covered document yields an
    empty clean_text. One range-filtered equi-join on the doc id + one
    ordered re-assembly aggregation.

    ``min_span_tokens``: only scrub MERGED spans at least this long
    (production pipelines remove long boilerplate runs — Lee et al. use
    50 tokens — while keeping short incidental matches); default = ``k``
    (every detected span)."""
    spans = repeated_substring_spans(docs, k=k, min_docs=min_docs,
                                     id_col=id_col, text_col=text_col)
    if min_span_tokens is not None and min_span_tokens > k:
        spans = spans.where(
            F.col("span_end") - F.col("span_start") + 1 >= min_span_tokens)
    toks = (docs.select(F.col(id_col).alias("id"),
                        F.posexplode(F.split(F.col(text_col), r"\s+"))
                        .alias("pos0", "tok"))
            .select("id", (F.col("pos0") + 1).alias("pos"), "tok"))
    cond = ((toks["id"] == spans[id_col])
            & (toks["pos"] >= spans["span_start"])
            & (toks["pos"] <= spans["span_end"]))
    kept = toks.join(spans, cond, "left_anti")
    rebuilt = (kept.groupBy("id")
               .agg(F.array_join(
                   F.expr("transform(array_sort(collect_list("
                          "struct(pos, tok))), x -> x.tok)"), " ")
                   .alias("clean_text"),
                   F.count("*").alias("n_kept")))
    base = docs.select(F.col(id_col).alias("id"),
                       F.size(F.split(F.col(text_col), r"\s+"))
                       .alias("n_total"))
    return (base.join(rebuilt, "id", "left")
            .select(F.col("id").alias(id_col),
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    (F.col("n_total") - F.coalesce("n_kept", F.lit(0)))
                    .cast("long").alias("n_removed")))
