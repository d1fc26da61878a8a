"""Physical-plan regression tests for the scale claims in README/SURVEY §4.

These pin the *plan shape*, not results: quadkey prefix predicates must be
pushed into the parquet scan (row-group pruning on quadkey-sorted files),
small dimensions must broadcast (no shuffle of the fact side), and
aggregations must have a map-side partial phase. A refactor that silently
turns one of these into a full scan / shuffle still passes result tests —
only a plan assertion catches it before it costs 100x at 100 TB.
"""

import contextlib
import io

from pyspark.sql import functions as F

from open_buildings_spark.operators import enrich
from open_buildings_spark.table import iceberg_lite as tbl


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_quadkey_prefix_pushed_to_parquet_scan(spark, docs, tmp_path):
    root = str(tmp_path / "tbl")
    tbl.write_partitioned(
        enrich.add_geo_columns(docs, drop_nongeo=True), root, max_per_file=500
    )
    t = tbl.read_table(spark, root, quadkey_prefix="3001")
    q = t.filter(F.col("quadkey").startswith("3001")).select("doc_id", "quadkey")
    plan = plan_of(q)
    assert "PushedFilters" in plan and "StringStartsWith(quadkey,3001)" in plan
    # column pruning reaches the scan: spans (the widest column) not read
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "spans" not in read_schema


def test_small_dim_join_broadcasts(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    j = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.sum("o_totalprice").alias("v"))
    )
    plan = plan_of(j)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_histogram_has_partial_aggregation(spark, docs):
    g = enrich.add_geo_columns(docs, drop_nongeo=True)
    hist = g.groupBy(F.substring("quadkey", 1, 12).alias("qk12")).count()
    plan = plan_of(hist)
    # two HashAggregate phases = map-side combine before the shuffle
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_native_pipeline_stays_in_codegen(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    plan = plan_of(q)
    # the date filter is pushed to the parquet reader, which reads vectorized
    assert "LessThanOrEqual(l_shipdate" in plan
    assert "Batched: true" in plan
    # codegen spans only materialize in the AQE *final* plan: execute, then
    # check the executed plan marks its operators codegen'd ("*(n) Op")
    q.collect()
    executed = q._jdf.queryExecution().executedPlan().toString()
    assert "*(" in executed, executed


def test_enrich_is_single_python_pass(spark, docs):
    """The whole enrichment (parse + quadkey + centroid + area + country)
    must be ONE python eval node in the recommended pattern (native wkt
    pre-filter via drop_nongeo, no post-filter on UDF outputs) — a second
    node means every WKT parses twice. Catalyst WILL split the eval when a
    filter on an enriched column is pushed below the projection, which is
    exactly why the engine pre-filters natively instead."""
    from open_buildings_spark import datagen

    clist = [
        (iso, [([[w, s], [e, s], [e, n], [w, n], [w, s]], False)])
        for iso, (w, s, e, n) in datagen.countries()
    ]
    g = enrich.add_geo_columns(docs, drop_nongeo=True, countries=clist)
    out = g.select("doc_id", "quadkey", "country_iso")
    import re

    plan = plan_of(out)
    # formatted mode prints each node once in the tree and once in the
    # details section — count only the numbered detail headers
    nodes = re.findall(
        r"^\(\d+\) (MapInArrow|ArrowEvalPython|BatchEvalPython|MapInPandas)",
        plan,
        re.M,
    )
    assert len(nodes) == 1, plan


def test_tag_cells_is_broadcast_hash_join(spark, docs):
    """Cell tagging must be a broadcast HASH join on the exploded prefix
    (equi-condition), never a BroadcastNestedLoopJoin on startswith and
    never a per-cell expression chain — plan size stays O(1) in #cells."""
    from open_buildings_spark.operators import partition

    g = enrich.add_geo_columns(docs, drop_nongeo=True)
    plan_df = partition.partition_plan(g, 500)
    tagged = partition.tag_cells(g, plan_df)
    plan = plan_of(tagged)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("StartsWith") == 0


def test_banded_lsh_candidates_are_hash_joined(spark, sf_dir):
    """ANN candidate generation joins band buckets with a hash join (the
    bucket is the shuffle key); no cartesian/NL join may appear."""
    from open_buildings_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    res = similarity.ann_topk_lsh(emb, [0, 1, 2], k=3)
    plan = plan_of(res)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_aoi_bbox_prefilter_runs_before_python(spark, docs):
    """The first-vertex bbox prefilter is a NATIVE filter below the
    ArrowEvalPython node, so the within kernel sees only bbox candidates —
    not the whole scan. (within requires every vertex inside the AOI, so
    first-vertex-in-bbox excludes nothing valid.)"""
    from open_buildings_spark import datagen
    from open_buildings_spark.operators import aoi as aoi_op

    import re

    q = aoi_op.aoi_query(docs, datagen.city_aoi()).select("doc_id")
    plan = plan_of(q)
    # numbered-details section: (1) Scan parquet, (2) Filter, ... — node
    # numbers follow scan order
    nodes = re.findall(r"^\((\d+)\) (\w+)", plan, flags=re.M)
    order = {name: int(num) for num, name in reversed(nodes)}
    assert order["Filter"] < order["ArrowEvalPython"]
    assert "substring_index" in plan


def test_sql_aoi_plan_pushes_prefix_single_python_eval(spark, docs, tmp_path):
    """The pure-SQL AOI query over a table view must get the same physical
    plan as the DataFrame serving path: the LIKE prefix compiles to a pushed
    StartsWith on the parquet scan, and ob_within is the ONLY python eval."""
    import re

    from open_buildings_spark import sqlapi

    root = str(tmp_path / "tbl")
    tbl.write_partitioned(
        enrich.add_geo_columns(docs, drop_nongeo=True), root, max_per_file=5000
    )
    sqlapi.register(spark)
    sqlapi.create_view(spark, root, "v_plan_test")
    q = spark.sql(
        "SELECT doc_id, quadkey FROM v_plan_test "
        "WHERE quadkey LIKE '3001%' "
        "AND ob_within(wkt, 'POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))')"
    )
    plan = plan_of(q)
    assert "StringStartsWith(quadkey,3001)" in plan
    nodes = re.findall(
        r"^\(\d+\) (MapInArrow|ArrowEvalPython|BatchEvalPython|MapInPandas)",
        plan,
        re.M,
    )
    assert len(nodes) == 1, plan


def test_big_aoi_join_is_shuffle_join_no_broadcast(spark, docs, sf_dir):
    """The big-big spatial join must shuffle BOTH sides on the cell key:
    no broadcast anywhere (neither side fits memory at planet scale), no
    nested-loop/cartesian join, and the plan size must be O(1) in the AOI
    count (cells are data rows, never expression chains)."""
    import re

    from open_buildings_spark import datagen
    from open_buildings_spark.operators import spatial_join

    aois = datagen.big_aois_df(spark, sf_dir).select("aoi_id", "wkt")
    out = spatial_join.aoi_join_big(docs, aois, cover_level=12).select(
        "doc_id", "aoi_id"
    )
    plan = plan_of(out)
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    # plan size independent of AOI count: 1000x fewer AOIs -> same node count
    few = spatial_join.aoi_join_big(
        docs, aois.filter(F.col("aoi_id") % 1000 == 0), cover_level=12
    ).select("doc_id", "aoi_id")
    many = spatial_join.aoi_join_big(
        docs, aois.filter(F.col("aoi_id") % 1 == 0), cover_level=12
    ).select("doc_id", "aoi_id")
    count_nodes = lambda p: len(re.findall(r"^\(\d+\) ", p, re.M))  # noqa: E731
    assert count_nodes(plan_of(many)) == count_nodes(plan_of(few))

    # exactly 4 python evals: docs enrichment, AOI cover, interior-cell
    # classifier (AOI side), pair refine — none duplicated by pushdown
    nodes = re.findall(
        r"^\(\d+\) (MapInArrow|ArrowEvalPython|BatchEvalPython)", plan, re.M
    )
    assert len(nodes) == 4, plan


def test_bm25_broadcasts_small_sides(spark):
    """BM25's document-frequency and corpus-stats sides must broadcast —
    the posting list never shuffles for them."""
    from open_buildings_spark.operators import search

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("table fast row filler"), F.col("id").cast("string")).alias(
            "text"
        ),
    )
    plan = plan_of(search.bm25_search(docs, ["table", "fast", "row"], k=10))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the per-(doc, term) posting list must not sort-merge-join anywhere
    assert "SortMergeJoin" not in plan


def test_contamination_broadcasts_eval_fingerprints(spark):
    """The corpus-windows side must never shuffle for the eval join — the
    eval set's distinct fingerprints broadcast."""
    from open_buildings_spark.operators import dedup

    corpus = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w1 w2 w3 w4 w5 w6 w7 w8 tail"), F.col("id").cast("string")).alias("text"),
    )
    evalset = spark.createDataFrame(
        [(0, "w1 w2 w3 w4 w5 w6 w7 w8")], "doc_id long, text string"
    )
    plan = plan_of(dedup.contamination_stats(corpus, evalset))
    assert "BroadcastHashJoin" in plan


def test_lm_score_broadcast_gated_by_model_size(spark):
    """The self-trained bigram model is corpus-grown: the scoring join must
    broadcast it only under the row cap (or after top-N pruning) and fall
    back to a shuffle join above it — an unconditional broadcast is the
    one planet-scale killer in this operator."""
    from open_buildings_spark.operators import textstats

    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon zeta "),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    # kill auto-broadcast so the plan shows exactly what the HINT does
    # (tiny test tables would otherwise broadcast regardless)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # small model, default cap -> broadcast hint applied
        assert "BroadcastHashJoin" in plan_of(textstats.lm_score(docs))
        # model over the (tiny) cap -> hint dropped, join shuffles
        capped = plan_of(textstats.lm_score(docs, max_broadcast_rows=3))
        assert "BroadcastHashJoin" not in capped
        assert "SortMergeJoin" in capped or "ShuffledHashJoin" in capped
        # top-N pruning bounds the bigram table -> broadcast is safe again
        pruned = plan_of(textstats.lm_score(docs, top_n_bigrams=5))
        assert "BroadcastHashJoin" in pruned
        assert "TakeOrderedAndProject" in pruned
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_aoi_refine_python_eval_counts(spark, docs, tmp_path):
    """The one refine UDF adds no Python eval node to any AOI path: the
    raw AOI query and the broadcast AOI join pay one enrichment pass plus
    one refine, the stored-table paths only the refine. A second refine
    node (a pushed filter splitting the eval, or a per-AOI UDF) means
    every candidate crosses the Arrow boundary twice."""
    import re

    from open_buildings_spark import datagen
    from open_buildings_spark.operators import aoi as aoi_op
    from open_buildings_spark.operators import spatial_join

    from tests.fixtures import LONDON_TILE_FEATURE

    def evals(df):
        return len(re.findall(
            r"^\(\d+\) (MapInArrow|ArrowEvalPython|BatchEvalPython|MapInPandas)",
            plan_of(df),
            re.M,
        ))

    aois = [(1, datagen.city_aoi()), (2, LONDON_TILE_FEATURE)]
    root = str(tmp_path / "tbl")
    tbl.write_partitioned(
        enrich.add_geo_columns(docs, drop_nongeo=True), root, max_per_file=5000
    )
    table = tbl.read_table(spark, root)
    assert evals(aoi_op.aoi_query(docs, datagen.city_aoi())) == 2
    assert evals(spatial_join.aoi_join(docs, aois)) == 2
    assert evals(aoi_op.aoi_query(table, datagen.city_aoi())) == 1
    assert evals(spatial_join.aoi_join(table, aois)) == 1


def test_knn_join_top_k_limits_before_its_exchange(spark):
    """knn_join's per-point row_number top-k plans a Partial
    WindowGroupLimit below the point-id exchange and the Final one above
    it: each map task ships at most k rows per point, however dense the
    cell."""
    from open_buildings_spark.operators import knn

    docs = spark.createDataFrame(
        [(1, "0" * 12, 0.0, 0.0)], "doc_id long, quadkey string, lon double, lat double"
    )
    pts = spark.createDataFrame([(1, 0.0, 0.0)], "place_id long, lon double, lat double")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        knn.knn_join(pts, docs, k=3, anchor_offset_m=0.0).explain()
    lines = buf.getvalue().splitlines()

    def first(pred):
        return next(i for i, line in enumerate(lines) if pred(line))

    final = first(lambda l: "WindowGroupLimit" in l and l.rstrip().endswith("Final"))
    exchange = first(lambda l: "Exchange hashpartitioning(_pid" in l)
    partial = first(lambda l: "WindowGroupLimit" in l and l.rstrip().endswith("Partial"))
    assert final < exchange < partial
