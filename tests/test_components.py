"""connected_components: batched min-label propagation (one action per
rounds_per_check rounds — the stage-3 dominator fix)."""

from pyspark.sql import functions as F

from rdf_tabular_spark.operators.components import (canonical_mapping,
                                                    connected_components)


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "a string, b string")
    rows = connected_components(df, **kw).collect()
    return {r["id"]: r["component"] for r in rows}


def test_chain_spans_multiple_batches(spark):
    # a 12-node chain has diameter 11 — min-label propagation needs ~11
    # rounds, i.e. several 3-round batches before the convergence check hits
    ids = [f"n{i:02d}" for i in range(12)]
    edges = [(ids[i], ids[i + 1]) for i in range(11)]
    comp = _cc(spark, edges)
    assert set(comp.values()) == {"n00"}
    assert len(comp) == 12


def test_two_components_and_min_label(spark):
    comp = _cc(spark, [("b", "c"), ("c", "a"), ("x", "y")])
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_batched_equals_unbatched(spark):
    edges = [("a", "b"), ("b", "c"), ("d", "e"), ("e", "f"), ("f", "a"),
             ("p", "q"), ("r", "s"), ("q", "r")]
    assert _cc(spark, edges, rounds_per_check=1) == \
        _cc(spark, edges, rounds_per_check=4)


def test_canonical_mapping_empty_edges(spark):
    empty = spark.createDataFrame([], "a string, b string")
    assert canonical_mapping(empty).count() == 0


def test_canonical_mapping_driver_tier_matches_distributed(spark):
    edges = [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "a")]
    df = spark.createDataFrame(edges, "a string, b string")
    driver = {(r["id"], r["canonical_id"])
              for r in canonical_mapping(df).collect()}
    dist = {(r["id"], r["canonical_id"])
            for r in canonical_mapping(df, driver_threshold=0).collect()}
    assert driver == dist
    assert ("c", "a") in driver and ("y", "x") in driver


def test_rewrite_triples_rewrites_iri_objects(spark):
    """Stage-3 rewrite must canonicalize IRI objects too (edges between
    pages), while literal objects that merely look like a mapped id are
    left untouched."""
    from rdf_tabular_spark.operators.components import rewrite_triples
    triples = spark.createDataFrame(
        [("http://a/x", "p", "http://a/y", True),
         ("http://a/y", "p", "lit http://a/y", False),
         ("http://a/y", "p", "http://a/z", True)],
        "subj string, pred string, obj string, obj_is_iri boolean")
    mapping = spark.createDataFrame(
        [("http://a/y", "http://a/canon")], "id string, canonical_id string")
    got = {(r["subj"], r["obj"]) for r in
           rewrite_triples(triples, mapping).collect()}
    assert got == {
        ("http://a/x", "http://a/canon"),        # IRI obj rewritten
        ("http://a/canon", "lit http://a/y"),    # literal obj untouched
        ("http://a/canon", "http://a/z"),        # subj rewritten
    }


def test_signature_edges_broadcast_and_shuffle_paths_agree(spark):
    """r5 size-adaptive verification: the broadcast tier (pairs <= cap)
    and the shuffle tier (pairs > cap) produce the identical edge set."""
    import rdf_tabular_spark.operators.minhash as M
    docs = spark.createDataFrame(
        [(f"s{i}", "tok0|tok1|tok2|tok3|" + (f"x{i}" if i % 2 else "x0"))
         for i in range(30)],
        "subj string, profile string")
    jsc = spark.sparkContext._jsc
    # compared by id: the JVM map holds its RDDs weakly, so an earlier
    # test's cached RDD may be collected mid-test and lower the size
    baseline = set(jsc.getPersistentRDDs())
    sigs = M.minhash_signatures(docs, "subj", "profile", num_perm=16,
                                token_sep="|").persist()
    releases = []

    def edge_set():
        return {(r["a"], r["b"]) for r in M.signature_similarity_edges(
            sigs, num_bands=4, threshold=0.5, releases=releases).collect()}
    bc = edge_set()
    old = M.BROADCAST_PAIRS_MAX
    M.BROADCAST_PAIRS_MAX = 0          # force the shuffle tier
    try:
        sh = edge_set()
    finally:
        M.BROADCAST_PAIRS_MAX = old
    assert bc == sh and bc            # non-empty and identical
    # every persist made inside is handed to the caller: releasing them
    # (and the caller's own sigs) returns storage to the baseline
    assert releases
    for df in releases:
        df.unpersist()
    sigs.unpersist()
    assert set(jsc.getPersistentRDDs()) <= baseline
