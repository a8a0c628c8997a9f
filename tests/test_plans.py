"""Physical-plan invariants — the scale guarantees, asserted.

These are the properties that make the pipeline survive a 100x
scale-up; regressing any of them is a perf bug even when results stay
correct (SURVEY.md §4):
- filter + column pushdown reach the parquet scan;
- small dimensions broadcast (no shuffle of the fact side);
- extraction is shuffle-free (scan → project → mapInPandas);
- aggregations are partial (map-side combine) before the exchange.
"""

import re
from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from code_index_spark.operators.extract import extract_triples
from code_index_spark.sources.tpch import derived_transcripts, load_tables


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# the edge build's exchanges: a plan string also embeds a cached input's
# own (upstream) exchanges inside its InMemoryRelation, so the edge
# tests assert on the exchange KEYS that stage could add, not on a count
_TURN_EXCHANGE = re.compile(r"Exchange hashpartitioning\(conv_id#\d+, turn_idx")
_ROLLUP_EXCHANGE = re.compile(r"Exchange hashpartitioning\(src_entity#\d+")


def test_filter_and_column_pushdown(spark):
    tbl = load_tables(spark, "/root/testdata/sf0.001")
    q = (
        tbl["lineitem"]
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .select("l_returnflag", "l_quantity")
    )
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_quantity", "l_returnflag", "l_shipdate"}, cols


def test_transcript_view_joins_broadcast(spark):
    t = derived_transcripts(spark, "/root/testdata/sf0.001")
    plan = _plan(t)
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_extraction_adds_no_shuffle(spark):
    t = derived_transcripts(spark, "/root/testdata/sf0.001")
    view_plan = _plan(t)
    plan = _plan(extract_triples(t))
    # the view itself owns exactly one data exchange (the narrow
    # l_orderkey repartition the turn_idx window rides — the pipeline's
    # canonical partitioning); extraction must ride that exchange and
    # add none of its own. Cut at the Subqueries SECTION (the `Subquery
    # subquery#N` expression marker now appears above the exchange in
    # the restructured view, so splitting on the bare word would
    # truncate the main plan). Broadcast exchanges are allowed; data
    # exchanges are the scale invariant.
    def data_exchanges(p: str) -> list[str]:
        main = p.split("===== Subqueries")[0]
        return re.findall(r"Exchange hashpartitioning\([^)]*\)", main)

    assert len(data_exchanges(plan)) == len(data_exchanges(view_plan)) == 1
    assert "hashpartitioning(conv_id" in data_exchanges(plan)[0]
    assert "MapInPandas" in plan.split("===== Subqueries")[0]


def test_aggregation_partial_before_exchange(spark):
    tbl = load_tables(spark, "/root/testdata/sf0.001")
    q = tbl["lineitem"].groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = _plan(q)
    assert "partial_sum" in plan  # map-side combine present


def test_broadcast_entity_map_in_edges(spark):
    from code_index_spark.operators.materialize import build_edges

    t = derived_transcripts(spark, "/root/testdata/sf0.001")
    triples = extract_triples(t)
    emap = spark.createDataFrame(
        [("Acme Corp", 5, 1)], "surface string, mention_count long, entity_id long"
    )
    plan = _plan(build_edges(triples, emap))
    assert "BroadcastHashJoin" in plan


def test_edge_build_reuses_turn_partitioning(spark):
    """The edge build's per-turn groupBy must REUSE the pipeline's
    conv_id hash partitioning (hashpartitioning on a subset of the
    grouping keys satisfies the clustered distribution), so over
    conv_id-partitioned cached triples build_edges adds ZERO exchanges
    — the exploded edge multiset (132M rows at sf1) never crosses the
    wire — and build_edges_agg adds exactly ONE, the (src, pred, dst)
    rollup, whose input is already map-side partially combined (95×
    smaller than the edge multiset at sf1, BENCH.md)."""
    from code_index_spark.operators.extract import extract_triples_sql
    from code_index_spark.operators.materialize import build_edges, build_edges_agg

    # persist, NOT localCheckpoint: an InMemoryRelation advertises the
    # cached plan's hash partitioning to downstream requirements, while
    # a checkpoint's LogicalRDD drops it (measured: the same groupBy
    # re-exchanges on (conv_id, turn_idx) over checkpointed input) —
    # this is plans.pipeline.STAGES' policy for triples
    t = (
        derived_transcripts(spark, "/root/testdata/sf0.001")
        .repartition(4, "conv_id")
        .persist()
    )
    t.count()
    triples = extract_triples_sql(t).persist()
    triples.count()
    try:
        emap = spark.createDataFrame(
            [("Acme Corp", 5, 1)],
            "surface string, mention_count long, entity_id long",
        )

        edges_plan = _plan(build_edges(triples, emap))
        assert not _TURN_EXCHANGE.search(edges_plan)
        assert not _ROLLUP_EXCHANGE.search(edges_plan)
        agg_plan = _plan(build_edges_agg(triples, emap))
        assert not _TURN_EXCHANGE.search(agg_plan)
        assert len(_ROLLUP_EXCHANGE.findall(agg_plan)) >= 1
        assert "partial_sum" in agg_plan
    finally:
        triples.unpersist()


def test_build_graph_materialization_policy(spark):
    """plans.pipeline.STAGES' policy as build_graph applies it: triples
    are cached (InMemoryRelation), the vocab-scale tables are eager
    checkpoints (LogicalRDD), and over the cached triples the production
    edge build adds no per-turn exchange (the entity map broadcasts)
    while the rollup adds exactly one, on src_entity."""
    from code_index_spark.operators.materialize import build_edges_agg
    from code_index_spark.plans.pipeline import build_graph

    g = build_graph(derived_transcripts(spark, "/root/testdata/sf0.001"))
    try:
        def root(df) -> str:
            return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()

        assert root(g["triples"]) == "InMemoryRelation"
        for name in ("surfaces", "pairs", "components", "entity_map"):
            assert root(g[name]) == "LogicalRDD", name

        edges_plan = _plan(g["edges"])
        assert not _TURN_EXCHANGE.search(edges_plan)
        assert "BroadcastHashJoin" in edges_plan
        agg_plan = _plan(build_edges_agg(g["triples"], g["entity_map"]))
        assert len(_ROLLUP_EXCHANGE.findall(agg_plan)) == 1
    finally:
        g["triples"].unpersist()


def test_q17_correlated_subquery_decorrelates(spark):
    """The Q17-class correlated scalar subquery must decorrelate to
    ONE aggregation pass over lineitem joined back to the facts —
    lineitem is scanned exactly twice (facts + per-part averages),
    never re-executed per outer row."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q17_small_qty_revenue"](
        spark, "/root/testdata/sf0.001"
    )
    plan = _plan(df)
    assert plan.count("Scan parquet") == 3  # lineitem x2 + part x1
    assert "BroadcastHashJoin" in plan
    assert "partial_avg" in plan or "avg(" in plan  # the one agg pass


def test_seed_classifier_plan_broadcasts_weights(spark):
    """The classifier's 100×-scale plan: the K-row NB weight table and
    the 1-row constants broadcast (corpus side never shuffles for
    them), the per-doc logit aggregation is partial before its
    exchange, and no Python workers appear anywhere."""
    from code_index_spark.operators.textstats import seed_classifier

    tbl = load_tables(spark, "/root/testdata/sf0.001")
    docs = tbl["documents"]
    seed = F.col("doc_id") % 3 == 0
    q = seed_classifier(
        docs,
        docs.filter(seed & (F.col("lang") == "en")),
        docs.filter(seed & (F.col("lang") != "en")),
        "doc_id", "text",
    )
    plan = _plan(q)
    # weight-table join rides a broadcast, never a sort-merge
    assert "BroadcastHashJoin" in plan
    # per-doc logit agg combines map-side before its exchange
    assert "partial_count" in plan or "partial" in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_shuffle_shards_single_exchange(spark):
    """Shard shuffle owns exactly ONE data exchange (hash on `shard`);
    the in-shard order comes from per-partition sorts under the
    window, never a global range sort."""
    from code_index_spark.operators.prepare import shuffle_shards

    tbl = load_tables(spark, "/root/testdata/sf0.001")
    q = shuffle_shards(tbl["documents"], "doc_id", n_shards=16)
    plan = _plan(q)
    main = plan.split("Subquery")[0]
    assert main.count("Exchange") == 1
    assert "hashpartitioning(shard" in main
    assert "rangepartitioning" not in main
    assert "MapInPandas" not in main and "BatchEvalPython" not in main


def test_minhash_verify_intersects_once(spark):
    """minhash_verified_pairs runs array_intersect once per candidate:
    the verify step's one-row explode stops the Jaccard filter from
    being pushed into the join condition and projected again, each a
    copy of the intersection."""
    from code_index_spark.operators.dedupe import minhash_verified_pairs

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    out = minhash_verified_pairs(docs, "doc_id", "text", threshold=0.7)
    assert out.collect()  # runs THIS plan, so its AQE plan is final
    final = _plan(out).split("== Initial Plan ==")[0]
    assert final.count("array_intersect(") == 1


def _plan_children(node) -> list:
    """Children of an executed plan node, descending through AQE query
    stages and reused exchanges to the operators that ran."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return [node.child()]
    it = node.children().iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _metric(node, name: str):
    m = node.metrics().get(name)
    return m.get().value() if m.isDefined() else None


def _surface_join(spark):
    """linked_pairs_exact over a stop-gram vocabulary: every surface
    shares the char-3-grams of one long common prefix."""
    from code_index_spark.operators.link import (
        char_ngrams,
        linked_pairs_exact,
        normalize_surface,
    )

    names = [f"service_handler_{i}" for i in range(200)] + ["acme corp", "Acme-Corp"]
    surfaces = (
        spark.createDataFrame([(s,) for s in names], "surface string")
        .withColumn("norm", normalize_surface(F.col("surface")))
        .withColumn("grams", char_ngrams(F.col("norm")))
        .localCheckpoint(eager=True)
    )
    sizes = [len(r["grams"]) for r in surfaces.select("grams").collect()]
    return linked_pairs_exact(surfaces, len(names), min_jaccard=0.4), sizes, Fraction(2, 5)


def _shingle_join(spark):
    """ngram_jaccard_pairs over boilerplate documents: every doc shares
    the word-3-gram shingles of one twelve-word phrase and adds one
    word of its own."""
    from code_index_spark.operators.dedupe import ngram_jaccard_pairs, word_ngrams

    phrase = "the quick brown fox jumps over the lazy dog by the river"
    docs = spark.createDataFrame(
        [(i, f"{phrase} tok{i}") for i in range(100)], "doc_id long, text string"
    )
    sizes = [len(r["g"]) for r in docs.select(word_ngrams(F.col("text"), 3).alias("g")).collect()]
    return ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.8), sizes, Fraction(4, 5)


@pytest.mark.parametrize(
    "exact_join", [_surface_join, _shingle_join],
    ids=["linked_pairs_exact", "ngram_jaccard_pairs"],
)
def test_exact_join_reads_only_prefix_postings(spark, exact_join):
    """The prefix join's candidate self-join (functions.simjoin, under
    both exact-join callers) reads only the prefix postings, Σ (sz −
    ceil(t·sz) + 1) rows per side (< Σ sz), and no exchange sits above
    it: the candidate stream, larger here than every gram row of the
    input, is never shuffled or broadcast."""
    import math

    out, sizes, t = exact_join(spark)
    prefix_rows = sum(sz - math.ceil(t * sz) + 1 for sz in sizes)
    assert prefix_rows < sum(sizes)

    assert out.collect()  # runs THIS plan, so its final AQE plan has metrics
    found = []

    def visit(node, exchanges_above: int) -> None:
        text = node.simpleString(400)
        if "Join" in node.nodeName() and "(sid_a" in text and "< sid_b" in text:
            found.append((node, exchanges_above))
        if node.nodeName() in ("Exchange", "BroadcastExchange"):
            exchanges_above += 1
        for child in _plan_children(node):
            visit(child, exchanges_above)

    def rows_into(node) -> int:
        while _metric(node, "shuffleRecordsWritten") is None and not (
            node.nodeName() == "BroadcastExchange"
        ):
            (node,) = _plan_children(node)
        if node.nodeName() == "BroadcastExchange":
            return _metric(node, "numOutputRows")
        return _metric(node, "shuffleRecordsWritten")

    visit(out._jdf.queryExecution().executedPlan(), 0)
    assert len(found) == 1, "one candidate self-join"
    join, exchanges_above = found[0]
    assert exchanges_above == 0  # the candidate stream is never exchanged
    assert [rows_into(c) for c in _plan_children(join)] == [prefix_rows] * 2
    assert _metric(join, "numOutputRows") > sum(sizes)
