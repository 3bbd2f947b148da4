"""Product quantization (PQ) for memory-bound ANN at corpus scale.

At 10^12 vectors the embeddings themselves are the bottleneck: 64 float32
dims = 256 B/vector = 256 TB just to hold the corpus. PQ (Jégou, Douze,
Schmid, "Product quantization for nearest neighbor search", TPAMI 2011)
slices each vector into ``m`` contiguous subvectors, k-means-quantizes
each subspace independently, and stores only the ``m`` one-byte codes —
a 64x compression here — while queries score candidates with an
asymmetric distance computation (ADC): a driver-side m×k lookup table of
(query-subvector → centroid) distances, then per-candidate score =
sum of m table lookups. The scan touches ONLY the codes column.

Determinism contract (same as operators/similarity.ivf_fit_deterministic):
md5-bucket init + Lloyd refinements with driver-collected means, ties to
the lowest code — every step is a closed-form relational computation, so
the DuckDB oracle (queries._pq_topk_sql) REPLAYS the fit, the encoding,
and the ADC scoring from the same loop structure and the whole tier is
oracle-checkable end to end.

Scale notes:
- Fit state is m×k×(dim/m) doubles — tiny; at 100 TB you fit on a sample
  and encode distributively (m codegen'd argmin expressions per vector,
  zero shuffles).
- Encoding is one narrow projection; the codes table is what you store
  (alongside or instead of the raw vectors).
- ADC search is a broadcast of an m×k literal table + one TakeOrdered —
  zero shuffles, zero Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _as_double


def pq_fit_deterministic(df: DataFrame, m: int = 4, k: int = 16,
                         n_iter: int = 2, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         dim: int | None = None):
    """Fit ``m`` independent deterministic sub-quantizers and encode.

    Returns ``(codes_df, codebooks)``: codes_df = (id_col, codes
    array<int> length m), codebooks[s][c] = centroid (list of dim/m
    floats). Raises if a code cell empties (lower k or more data —
    loud beats silently degenerate codebooks)."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    init_cell = (F.conv(F.substring(
        F.md5(F.col(id_col).cast("string").cast("binary")), 16, 1), 16, 10)
        .cast("int") % k)

    # All m sub-quantizers advance in ONE aggregation per Lloyd iteration
    # (subspaces are independent, so their means group side by side on
    # (s, cell, d)): n_iter+1 Spark actions total instead of m*n_iter —
    # at small batch sizes the fit is plan/compile-bound, not data-bound.
    v_all = _as_double(F.col(vec_col))
    cur = df.select(F.col(id_col), v_all.alias("v"),
                    F.array_repeat(init_cell, m).alias("cells"))
    cents_all: list[dict[int, list[float]]] = [dict() for _ in range(m)]
    s_of_d = F.floor(F.col("d") / sub).cast("int")
    for it in range(n_iter):
        rows = (cur.select("cells", F.posexplode("v").alias("d", "x"))
                .select(s_of_d.alias("s"),
                        F.element_at("cells", s_of_d + 1).alias("cell"),
                        (F.col("d") % sub).alias("dd"), F.col("x"))
                .groupBy("s", "cell", "dd").agg(F.avg("x").alias("mu"))
                .collect())
        bys: list[dict[int, dict[int, float]]] = [dict() for _ in range(m)]
        for r in rows:
            bys[r["s"]].setdefault(r["cell"], {})[r["dd"]] = r["mu"]
        for s in range(m):
            missing = sorted(set(range(k)) - set(bys[s]))
            if missing and it == 0:
                raise ValueError(
                    f"empty init cell(s) in subspace {s}: {missing}; "
                    f"lower k or use more data")
            new_cents = {c: [bys[s][c][d] for d in range(sub)]
                         for c in sorted(bys[s])}
            for c in missing:
                # a cell emptied during Lloyd: keep its previous centroid
                # (standard kmeans practice; deterministic, and the SQL
                # oracle carries the same row forward)
                new_cents[c] = cents_all[s][c]
            cents_all[s] = new_cents
        cur = df.select(
            F.col(id_col), v_all.alias("v"),
            F.array(*[
                _argmin_code(F.slice(v_all, s * sub + 1, sub), cents_all[s])
                for s in range(m)]).alias("cells"))

    codes_df = cur.select(F.col(id_col), F.col("cells").alias("codes"))
    codebooks = [[cents_all[s][c] for c in sorted(cents_all[s])]
                 for s in range(m)]
    return codes_df, codebooks


def _argmin_code(vec_s, cents: dict[int, list[float]]):
    """Nearest-centroid code as an array_min over (dist, code) structs —
    sequential left-assoc distance fold (IEEE-identical to the oracle's
    list_sum), ties to the lowest code (struct ordering)."""
    structs = []
    for c in sorted(cents):
        cent_lit = F.array(*[F.lit(v) for v in cents[c]])
        d2 = F.aggregate(
            F.zip_with(vec_s, cent_lit, lambda x, mu: (x - mu) * (x - mu)),
            F.lit(0.0), lambda acc, x: acc + x)
        structs.append(F.struct(d2.alias("dist"), F.lit(c).alias("code")))
    return F.array_min(F.array(*structs))["code"]


def adc_table(codebooks, query_vec: list[float]) -> list[list[float]]:
    """Driver-side ADC lookup table: table[s][c] = squared L2 distance from
    the query's subvector s to codebook centroid c. Python floats are IEEE
    doubles and the sum is sequential — bit-identical to the engines'
    left-assoc folds."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    tab = []
    for s in range(m):
        q_s = query_vec[s * sub:(s + 1) * sub]
        row = []
        for cent in codebooks[s]:
            acc = 0.0
            for x, mu in zip(q_s, cent):
                acc = acc + (x - mu) * (x - mu)
            row.append(acc)
        tab.append(row)
    return tab


def ivfpq_fit(df: DataFrame, coarse_k: int = 8, coarse_iter: int = 2,
              m: int = 4, k: int = 16, pq_iter: int = 2,
              id_col: str = "vec_id", vec_col: str = "embedding",
              dim: int | None = None):
    """IVF+PQ (the FAISS IVFPQ architecture, Jégou et al. 2011 §V):
    deterministic coarse quantizer assigns each vector a cell, the PQ
    codebooks quantize the RESIDUAL (vector − its cell centroid) — the
    residual distribution is far tighter than the raw one, so the same
    byte budget quantizes much finer. Returns
    ``(encoded_df(id, cell, codes), coarse_centroids, codebooks)``.

    Every step keeps the closed-form relational contract, so the DuckDB
    oracle replays coarse fit → residuals → PQ fit → encode end to end."""
    from .similarity import ivf_fit_deterministic
    spark = df.sparkSession
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    assigned, coarse = ivf_fit_deterministic(
        df, k=coarse_k, n_iter=coarse_iter, id_col=id_col,
        vec_col=vec_col, dim=dim)
    cent_df = F.broadcast(spark.createDataFrame(
        [(c, coarse[c]) for c in range(coarse_k)], ["cell", "cent"]))
    resid = (assigned.join(cent_df, "cell")
             .select(F.col(id_col), F.col("cell"),
                     F.zip_with(_as_double(F.col(vec_col)), F.col("cent"),
                                lambda x, mu: x - mu).alias("resid")))
    # the PQ fit collects m×pq_iter mean tables from this frame — without
    # a persist each collect replays the whole coarse fit upstream
    resid = resid.persist()
    codes_df, codebooks = pq_fit_deterministic(
        resid, m=m, k=k, n_iter=pq_iter, id_col=id_col, vec_col="resid",
        dim=dim)
    encoded = resid.select(id_col, "cell").join(codes_df, id_col)
    return encoded, coarse, codebooks


def ivfpq_search(encoded: DataFrame, coarse, codebooks,
                 query_vec: list[float], topk: int = 10, n_probe: int = 3,
                 id_col: str = "vec_id", exclude_id=None) -> DataFrame:
    """Probe the ``n_probe`` nearest coarse cells; within them, ADC on the
    residual codes with a PER-CELL lookup table (the query's residual
    depends on the cell's centroid). The n_probe×m×k tables are
    driver-sized, shipped as one broadcast join on cell — candidates'
    raw vectors are never read. Ascending distance, ties to lowest id."""
    spark = encoded.sparkSession

    def d2(c):
        acc = 0.0
        for a, b in zip(c, query_vec):
            acc = acc + (a - b) * (a - b)
        return acc

    probe = sorted(range(len(coarse)),
                   key=lambda i: (d2(coarse[i]), i))[:n_probe]
    rows = []
    for c in probe:
        q_res = [a - b for a, b in zip(query_vec, coarse[c])]
        rows.append((c, adc_table(codebooks, q_res)))
    tab_df = F.broadcast(spark.createDataFrame(rows, ["cell", "tab"]))
    approx = F.aggregate(
        F.zip_with(F.col("codes"), F.col("tab"),
                   lambda code, row: F.element_at(row, code + 1)),
        F.lit(0.0), lambda acc, x: acc + x)
    out = (encoded.filter(F.col("cell").isin(probe))
           .join(tab_df, "cell")
           .select(F.col(id_col), F.col("cell"),
                   F.round(approx, 4).alias("approx_dist")))
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != exclude_id)
    return out.orderBy(F.col("approx_dist").asc(), F.col(id_col)).limit(topk)


def l2_normalize(vec: "Column") -> "Column":
    """Unit-normalize an ``array<float>`` embedding (pure Column exprs —
    one fused fold for the norm, one transform; zero vectors pass through
    unchanged via the epsilon guard). Normalized embeddings turn cosine
    search into dot-product search — the standard retrieval prep."""
    from pyspark.sql import functions as F
    n = F.sqrt(F.aggregate(vec, F.lit(0.0),
                           lambda acc, x: acc + x.cast("double") ** 2))
    safe = F.greatest(n, F.lit(1e-30))
    return F.transform(vec, lambda x: x.cast("double") / safe)


def matryoshka_truncate(vec: "Column", dims: int,
                        renormalize: bool = True) -> "Column":
    """Matryoshka-representation truncation (Kusupati et al. 2022): keep
    the first ``dims`` coordinates (MRL-trained models front-load
    information), optionally re-normalizing — the storage/recall dial of
    an embedding pipeline, as a pure slice (no UDF, no shuffle)."""
    from pyspark.sql import functions as F
    head = F.slice(vec, 1, dims)
    return l2_normalize(head) if renormalize else head


def scalar_quantize_int8(vec: "Column"):
    """Per-vector absmax int8 quantization → (scale, codes) where
    ``codes[i] = floor(v[i] / scale)`` with ``scale = absmax / 127`` —
    4x embedding storage reduction with the per-vector scale kept for
    asymmetric (dequantized) scoring. floor (not round) keeps the
    lexical contract identical across engines; all Column exprs, no
    Python. Zero vectors quantize to all-zero codes via the epsilon
    guard."""
    from pyspark.sql import functions as F
    absmax = F.aggregate(vec, F.lit(0.0),
                         lambda acc, x: F.greatest(acc,
                                                   F.abs(x.cast("double"))))
    scale = F.greatest(absmax / F.lit(127.0), F.lit(1e-30))
    codes = F.transform(vec, lambda x:
                        F.floor(x.cast("double") / scale).cast("int"))
    return scale.alias("scale"), codes.alias("codes")


def pq_search(codes_df: DataFrame, codebooks, query_vec: list[float],
              topk: int = 10, id_col: str = "vec_id",
              exclude_id=None) -> DataFrame:
    """ADC top-k over the CODES table (the raw vectors are never read):
    approx squared-L2 = sum_s table[s][codes[s]], one broadcast literal
    2-D array + TakeOrdered. Ascending distance, ties to the lowest id."""
    tab = adc_table(codebooks, query_vec)
    tab_lit = F.array(*[
        F.array(*[F.lit(v) for v in row]) for row in tab])
    approx = F.aggregate(
        F.zip_with(F.col("codes"), tab_lit,
                   lambda c, row: F.element_at(row, c + 1)),
        F.lit(0.0), lambda acc, x: acc + x)
    out = codes_df.select(F.col(id_col),
                          F.round(approx, 4).alias("approx_dist"))
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != exclude_id)
    return out.orderBy(F.col("approx_dist").asc(), F.col(id_col)).limit(topk)


def int8_topk(df: DataFrame, query_id: int, k: int = 10,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Int8 maximum-inner-product top-k → ``(id, int_dot, sim)``: score
    every vector's int8 codes against the query's with an exact INTEGER
    dot product, then rescale asymmetrically (``sim ≈ dot·scale_a·
    scale_q``) — the 4×-compressed exact-ordering scan tier between the
    raw brute-force scan and PQ: the integer dot is bit-exact across
    engines by construction, and the rescale is a fixed two-
    multiplication chain of exact values, so even the float column
    hash-matches.

    Plan: quantization is a narrow projection; the query row is fetched
    driver-side and scored as a literal (no join); ORDER BY … LIMIT k
    collapses to TakeOrderedAndProject.
    """
    from pyspark.sql import functions as F
    scale, codes = scalar_quantize_int8(F.col(vec_col))
    q = df.select(F.col(id_col).alias("id"), scale, codes)
    qrow = q.where(F.col("id") == query_id).first()
    if qrow is None:
        return (q.where(F.lit(False))
                .select(F.col("id").alias(id_col),
                        F.lit(0).cast("long").alias("int_dot"),
                        F.lit(0.0).alias("sim")))
    qcodes = [int(c) for c in qrow["codes"]]
    qscale = float(qrow["scale"])
    dot = F.aggregate(
        F.zip_with("codes", F.array(*[F.lit(c) for c in qcodes]),
                   lambda a, b: (a.cast("long") * b.cast("long"))),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    return (q.where(F.col("id") != query_id)
            .select(F.col("id").alias(id_col), dot.alias("int_dot"),
                    F.round((dot.cast("double") * F.col("scale"))
                            * F.lit(qscale), 4).alias("sim"))
            .orderBy(F.col("sim").desc(), F.col(id_col).asc())
            .limit(k))


def int8_topk_sql(query_id: int, k: int = 10, dim: int = 64,
                  table: str = "embeddings", id_col: str = "vec_id",
                  vec_col: str = "embedding") -> str:
    """DuckDB oracle for :func:`int8_topk` — identical quantization,
    fixed-order integer dot, and rescale chain."""
    dot = " + ".join(f"(a.codes[{i}]::bigint * q.codes[{i}]::bigint)"
                     for i in range(1, dim + 1))
    return f"""
with qz as (
  select {id_col} as id,
         greatest(list_max(list_transform({vec_col},
                                          x -> abs(x::double))) / 127.0,
                  1e-30) as scale,
         list_transform({vec_col},
                        x -> floor(x::double /
                                   greatest(list_max(list_transform(
                                       {vec_col}, y -> abs(y::double)))
                                       / 127.0, 1e-30))::int) as codes
  from {table}),
q as (select * from qz where id = {query_id}),
scored as (
  select a.id, ({dot}) as int_dot,
         round((({dot})::double * a.scale) * q.scale, 4) as sim
  from qz a cross join q where a.id <> {query_id})
select id as {id_col}, int_dot::bigint as int_dot, sim from scored
order by sim desc, id limit {k}
"""
