"""Physical-plan regression: the optimizations we rely on at 100 TB must
actually appear in the plan (a correct-but-full-scan query is a bug)."""

import io
import re
from contextlib import redirect_stdout

import pytest

import __spark_entry__ as entry_mod

pytestmark = pytest.mark.engine

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_and_pruning(spark):
    p = plan_of(entry_mod.q_revenue_filter_agg(spark, SF))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m and "GreaterThanOrEqual(l_discount,0.05)" in m.group(1)
    assert "LessThan(l_quantity,24.0)" in m.group(1)
    # column pruning: the scan must read exactly the 3 needed columns
    rs = re.search(r"ReadSchema: struct<([^>]*)>", p).group(1)
    assert sorted(c.split(":")[0] for c in rs.split(",")) == [
        "l_discount", "l_extendedprice", "l_quantity",
    ]


def test_broadcast_join_selected(spark):
    p = plan_of(entry_mod.q_join_agg(spark, SF))
    assert "BroadcastHashJoin" in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert any(s == "o_custkey:bigint,o_totalprice:double" for s in schemas)
    assert any(s == "c_custkey:bigint,c_mktsegment:string" for s in schemas)


def test_topk_window_group_limit(spark):
    # rank<=k pushdown: Spark's WindowGroupLimit keeps per-group top-k
    # before the full sort — essential for top-k-per-group at scale
    assert "WindowGroupLimit" in plan_of(entry_mod.q_topk_per_group(spark, SF))


def test_kbest_stage_parallelism_pinned(spark):
    """The compute-dense beam stage must not be AQE-coalesced to 1
    partition (cost is per-row compute, not bytes): it runs in twice the
    session's default parallelism."""
    from correctocr_spark.spark.pipeline import CorrectionPipeline
    from correctocr_spark.spark.synth import synth_pages

    pipe = CorrectionPipeline(spark, use_html=False)
    pages = synth_pages(spark, 50, seed=3)
    kb = pipe.kbest_table(pipe.vocab(pages))
    assert kb.rdd.getNumPartitions() == 2 * spark.sparkContext.defaultParallelism


def test_pipeline_shuffle_count_join_path(spark):
    """``tokens()`` and ``corrected(strategy="join")`` are the one plan:
    exactly one Python operator and no exchange."""
    import datetime

    from correctocr_spark.spark.pipeline import CorrectionPipeline
    from correctocr_spark.spark.synth import PAGES_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [(f"u://{i}", ts, None, "a t3st str- ing", "en") for i in range(5)], PAGES_SCHEMA
    )
    pipe = CorrectionPipeline(spark, use_html=False)
    for out in (pipe.tokens(pages), pipe.corrected(pages, strategy="join")):
        p = plan_of(out)
        nodes = re.findall(r"^\(\d+\) (\w+)", p, flags=re.M)
        assert [n for n in nodes if re.search("Python|Pandas|Arrow", n)] == ["MapInPandas"], p
        assert "Exchange" not in p, p  # also rules out BroadcastExchange


def test_one_pass_plan_runs_one_job(spark):
    """``corrected(pages)`` plans without a Spark job and without an
    exchange, and a noop write runs it as exactly one job."""
    import time

    from correctocr_spark.spark.pipeline import CorrectionPipeline
    from correctocr_spark.spark.synth import synth_pages

    sc = spark.sparkContext
    pipe = CorrectionPipeline(spark, use_html=True)
    pages = synth_pages(spark, 50, seed=3)
    try:
        sc.setJobGroup("one-pass-plan", "corrected() call")
        out = pipe.corrected(pages)
        sc.setJobGroup("one-pass-run", "noop write")
        out.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    # job events reach the tracker through the asynchronous listener bus,
    # in order: once the write's job shows, any job of the plan call has
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup("one-pass-run") and time.monotonic() < deadline:
        time.sleep(0.1)
    assert list(tracker.getJobIdsForGroup("one-pass-plan")) == []
    assert len(tracker.getJobIdsForGroup("one-pass-run")) == 1
    p = plan_of(out)
    assert "Exchange" not in p, p  # also rules out BroadcastExchange


def test_asof_query_scan_pruning(spark):
    """asof_join query: both event scans must push their event_type
    filter to parquet and read only the needed columns; the whole query
    has exactly one hash exchange (the window) and no join node."""
    p = plan_of(entry_mod.q_asof_join(spark, SF))
    filters = " | ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", p))
    assert "EqualTo(event_type,click)" in filters
    assert "EqualTo(event_type,purchase)" in filters
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",")}
        assert cols <= {"event_id", "user_id", "ts", "event_type", "value"}, s
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    exchanges = re.findall(r"\(\d+\) Exchange\b", p)
    assert len(exchanges) == 1 and "hashpartitioning" in p, p


def test_range_join_query_scan_pruning(spark):
    """range_join query: the interval side pushes user_id < 10, the
    point side pushes event_type = error; no nested-loop/cartesian."""
    p = plan_of(entry_mod.q_range_join(spark, SF))
    filters = " | ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", p))
    assert "LessThan(user_id,10)" in filters
    assert "EqualTo(event_type,error)" in filters
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_snapshot_delta_query_pushes_both_cutoffs(spark):
    """snapshot_delta query: each snapshot's as-of cutoff must reach its
    parquet scan as a pushed ts predicate — at 10^12 rows on a
    ts-partitioned table this is the difference between reading two
    bounded snapshots and reading the whole crawl history twice."""
    p = plan_of(entry_mod.q_snapshot_delta(spark, SF))
    filters = re.findall(r"PushedFilters: \[([^\]]*)\]", p)
    cut1 = [f for f in filters if "LessThanOrEqual(ts,2024-01-10" in f]
    cut2 = [f for f in filters if "LessThanOrEqual(ts,2024-01-20" in f]
    assert cut1 and cut2, filters


def test_mix_proportions_query_scan_pruning(spark):
    """mix query: the counts scan reads lang only; the corpus scan reads
    (doc_id, lang) — never text; rates come back via broadcast."""
    p = plan_of(entry_mod.q_mix_proportions(spark, SF))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",")}
        assert cols <= {"doc_id", "lang"}, s
    assert "BroadcastHashJoin" in p


def test_gopher_rules_scan_speed(spark):
    """The Gopher rule set is one row-local projection: pruned scan
    (doc_id, text only) and ZERO exchanges — at 100 TB it must run at
    scan speed."""
    p = plan_of(entry_mod.q_gopher_rules(spark, SF))
    rs = re.search(r"ReadSchema: struct<([^>]*)>", p).group(1)
    assert sorted(c.split(":")[0] for c in rs.split(",")) == ["doc_id", "text"]
    # the only allowed Exchange is ensure_parallelism's round-robin
    # spread of the interpreted-HOF projection (a no-op on a real
    # many-split scan); no key shuffle, join, or aggregate anywhere
    for m in re.finditer(r"\(\d+\) Exchange\n(?:.*\n)*?Arguments: (\S+)", p):
        assert m.group(1).startswith("RoundRobinPartitioning"), m.group(0)
    assert "SortMergeJoin" not in p and "HashAggregate" not in p


def test_domain_blocklist_broadcast_semi(spark):
    """The blocklist side is dimension-sized: the suffix-chain match
    must be a BROADCAST left-semi join (no shuffle of the exploded page
    side against the blocklist), and the documents scan must read only
    doc_id (urls are injected)."""
    p = plan_of(entry_mod.q_domain_blocklist(spark, SF))
    assert re.search(r"BroadcastHashJoin.*LeftSemi", p)
    assert not re.search(r"SortMergeJoin.*LeftSemi", p)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert any(s == "doc_id:bigint" for s in schemas)


def test_train_shuffle_no_partitionless_window(spark):
    """Global training order without a global window: every Window in
    the executed plan must be partitioned by the coarse bucket."""
    df = entry_mod.q_train_shuffle(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "_bucket" in line, line


def test_ngram_repetition_single_gram_shuffle(spark):
    """Both gram streams are tagged and unioned IN-ROW: exactly one
    explode (Generate) feeds one (doc, tag, gram) aggregation — not one
    explode+shuffle per n — and the scan reads only (doc_id, text)."""
    p = plan_of(entry_mod.q_ngram_repetition(spark, SF))
    assert len(re.findall(r"\(\d+\) Generate", p)) == 1
    for s in re.findall(r"ReadSchema: struct<([^>]*)>", p):
        assert {c.split(":")[0] for c in s.split(",")} <= {"doc_id", "text"}, s
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_surt_keys_scan_speed(spark):
    """The SURT urlkey is one row-local regex/array expression: pruned
    scan (doc_id only — urls are injected) and no key shuffle, join,
    or aggregate anywhere."""
    p = plan_of(entry_mod.q_surt_keys(spark, SF))
    rs = re.search(r"ReadSchema: struct<([^>]*)>", p).group(1)
    assert sorted(c.split(":")[0] for c in rs.split(",")) == ["doc_id"]
    for m in re.finditer(r"\(\d+\) Exchange\n(?:.*\n)*?Arguments: (\S+)", p):
        assert m.group(1).startswith("RoundRobinPartitioning"), m.group(0)
    assert "SortMergeJoin" not in p and "HashAggregate" not in p


def test_cdx_fetch_plan_partial_agg(spark):
    """Index parsing is row-local; the fetch plan is ONE hash-partition
    exchange with a map-side partial aggregate before it (the 100 TB
    shape: per-segment combine happens in the scan stage)."""
    p = plan_of(entry_mod.q_cdx_fetch_plan(spark, SF))
    key_exchanges = [
        m.group(1)
        for m in re.finditer(r"\(\d+\) Exchange\n(?:.*\n)*?Arguments: (\S+)", p)
        if not m.group(1).startswith("RoundRobinPartitioning")
    ]
    assert len(key_exchanges) == 1 and key_exchanges[0].startswith(
        "hashpartitioning"
    ), key_exchanges
    assert len(set(re.findall(r"\((\d+)\) HashAggregate", p))) == 2  # partial + final
    assert "SortMergeJoin" not in p


def test_host_quota_no_partitionless_window(spark):
    """Both ranking windows are host-partitioned (phase 1 additionally
    salt-partitioned) — a partitionless/global window would serialize a
    mega-host onto one reducer."""
    p = plan_of(entry_mod.q_host_quota(spark, SF))
    assert "Window" in p
    # every Window's partition spec must mention host (never empty)
    for m in re.finditer(r"\(\d+\) Window\n(?:.*\n)*?Arguments: \[(.*)\]", p):
        assert "host" in m.group(1), m.group(0)
    assert "SinglePartition" not in p


def test_anchor_stats_partial_aggs_and_copartitioned_join(spark):
    """Every key exchange is an href-rooted hashpartitioning with a
    map-side partial aggregate below it; the modal window runs behind a
    WindowGroupLimit (top-1 pushdown over aggregated pair counts, never
    raw links); no cartesian anywhere. The links input is consumed
    twice by design (see the op docstring) so two branches of 2 key
    exchanges each is the expected shape."""
    p = plan_of(entry_mod.q_anchor_stats(spark, SF))
    key_exchanges = [
        m.group(1)
        for m in re.finditer(r"\(\d+\) Exchange\n(?:.*\n)*?Arguments: (\S+)", p)
        if not m.group(1).startswith("RoundRobinPartitioning")
    ]
    assert 2 <= len(key_exchanges) <= 4, key_exchanges
    assert all(k.startswith("hashpartitioning(href") for k in key_exchanges)
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_sitemap_and_page_metadata_scan_speed(spark):
    """Both metadata harvests are row-local: no key shuffle, join, or
    aggregate; sitemap_parse is a two-branch union of regex Generates
    over one injected scan."""
    for q in (entry_mod.q_sitemap_parse, entry_mod.q_page_metadata):
        p = plan_of(q(spark, SF))
        for m in re.finditer(r"\(\d+\) Exchange\n(?:.*\n)*?Arguments: (\S+)", p):
            assert m.group(1).startswith("RoundRobinPartitioning"), m.group(0)
        assert "SortMergeJoin" not in p and "HashAggregate" not in p
        assert "CartesianProduct" not in p


def test_bloom_gate_query_scan_pruning(spark):
    """bloom_gate reads only doc_id (urls injected), probes via
    broadcast joins, and the only hash exchange is the bitmap's own
    word-keyed aggregation — the corpus side stays scan-partitioned."""
    p = plan_of(entry_mod.q_bloom_gate(spark, SF))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(s == "doc_id:bigint" for s in schemas)
    assert "SortMergeJoin" not in p
    for line in p.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "word_index" in line, line


def test_classifier_gate_query_scan_pruning(spark):
    """classifier_gate reads (doc_id, text) only; the weight table is
    broadcast (never an SMJ on the bucket key) — the fixed-dims head
    must broadcast at any corpus size."""
    p = plan_of(entry_mod.q_classifier_gate(spark, SF))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert any(
        sorted(c.split(":")[0] for c in s.split(",")) == ["doc_id", "text"]
        for s in schemas
    )
    assert "BroadcastHashJoin" in p
    for line in p.splitlines():
        if "SortMergeJoin" in line:
            assert "_b" not in line, line
    spark.catalog.clearCache()


def test_wat_records_query_scan_speed(spark):
    """The WAT metadata view is row-local column algebra: pruned scan,
    no joins, no aggregates, no key exchanges."""
    p = plan_of(entry_mod.q_wat_records(spark, SF))
    rs = re.search(r"ReadSchema: struct<([^>]*)>", p).group(1)
    assert [c.split(":")[0] for c in rs.split(",")] == ["doc_id"]
    assert "SortMergeJoin" not in p and "HashAggregate" not in p
    for m in re.finditer(r"\(\d+\) Exchange\n(?:.*\n)*?Arguments: (\S+)", p):
        assert m.group(1).startswith("RoundRobinPartitioning"), m.group(0)


def test_robots_discovery_query_scan_shape(spark):
    """robots_discovery is one mapInPandas over the host-dimension
    robots table: the documents scan feeds only the distinct host
    derivation (doc_id), and there is no join anywhere."""
    p = plan_of(entry_mod.q_robots_discovery(spark, SF))
    rs = re.search(r"ReadSchema: struct<([^>]*)>", p).group(1)
    assert [c.split(":")[0] for c in rs.split(",")] == ["doc_id"]
    assert "Join" not in p


def test_gate_funnel_query_scan_pruning(spark):
    """The funnel reads exactly (text, lang) and is one agg over one
    scan — no per-gate passes, no joins (op-level plan shape pinned in
    test_filters_ops.TestGateFunnel)."""
    p = plan_of(entry_mod.q_gate_funnel(spark, SF))
    rs = re.search(r"ReadSchema: struct<([^>]*)>", p).group(1)
    assert sorted(c.split(":")[0] for c in rs.split(",")) == ["lang", "text"]
    assert "Join" not in p
    tree = p.split("\n\n")[0]
    assert tree.count("Scan ") == 1


def test_host_graph_query_single_exchange(spark):
    """Host projection: doc_id is the only column read, host extraction
    is row-local, no joins, and exactly the two Exchanges of Spark's
    exact-distinct agg (partial on (pair, src_url) dedups map-side,
    then the pair-keyed distinct count) — the right exact shape; a
    third exchange or a join would be a regression."""
    p = plan_of(entry_mod.q_host_graph(spark, SF))
    rs = re.search(r"ReadSchema: struct<([^>]*)>", p).group(1)
    assert [c.split(":")[0] for c in rs.split(",")] == ["doc_id"]
    assert "Join" not in p
    tree = p.split("\n\n")[0]
    assert tree.count("Exchange") == 2
    assert "partial" in p


def test_host_reputation_degree_aggs_before_join(spark):
    """Reputation joins DEGREE tables (post-aggregation, host-sized),
    never raw edges: every join input in the plan is an aggregate
    output, and all aggs have map-side partials."""
    p = plan_of(entry_mod.q_host_reputation(spark, SF))
    tree = p.split("\n\n")[0]
    # full_outer + left: 2 joins over aggregated sides
    assert tree.count("SortMergeJoin") + tree.count("BroadcastHashJoin") == 2
    assert "partial_count" in p or "partial_sum" in p


def test_zipnum_blocks_scan_pruning(spark):
    """The block plan reads only doc_id (fixture derives everything)
    and the window is never partitionless — every row_number runs
    inside a _pid partition."""
    p = plan_of(entry_mod.q_zipnum_blocks(spark, SF))
    assert "Window" in p
    # a partitionless window would show 'Window [...], [...]' with an
    # empty partition spec; ours partitions by _pid
    for line in p.splitlines():
        if "Arguments:" in line and "row_number()" in line:
            assert "_pid" in line, line


def test_bm25_topk_plan_window_limit_and_broadcast(spark):
    """BM25: per-query top-k must compile to WindowGroupLimit (partial
    top-k before the shuffle, never a full per-query gather) and the
    human-sized query-term table must broadcast into the postings
    semi-filter."""
    p = plan_of(entry_mod.q_bm25_topk(spark, SF))
    assert "WindowGroupLimit" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_template_skeletons_single_count_exchange(spark):
    """Template detection: the skeleton hash is row-local scan algebra;
    the only wide work is the (host, skeleton) count joined back on the
    same key — partial aggregation must appear (map-side combine)."""
    p = plan_of(entry_mod.q_template_skeletons(spark, SF))
    assert "HashAggregate" in p and "partial_count" in p
    assert "CartesianProduct" not in p


def test_soft404_scan_speed(spark):
    """Soft-404 scoring is one projection over the scan: no KEY shuffle
    (only ensure_parallelism's round-robin spread), no aggregate, no
    join, no Python UDF (pure regexp/HOF column algebra)."""
    p = plan_of(entry_mod.q_soft404_detect(spark, SF))
    for m in re.finditer(r"\(\d+\) Exchange\n(?:.*\n)*?Arguments: (\S+)", p):
        assert m.group(1).startswith("RoundRobinPartitioning"), m.group(0)
    assert "SortMergeJoin" not in p and "HashAggregate" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_bpe_pair_counts_partial_aggs(spark):
    """BPE pair counting: both the vocabulary count and the pair count
    must partial-aggregate before their exchanges — the Zipf mass is
    absorbed map-side; the pair enumeration is a Generate (posexplode),
    never a join."""
    p = plan_of(entry_mod.q_bpe_pair_counts(spark, SF))
    assert p.count("partial_count") >= 1 and "partial_sum" in p
    assert "Generate" in p
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p


def test_dedup_paragraphs_scan_speed(spark):
    """Within-doc paragraph scrub is one row-local projection: no key
    shuffle (only the round-robin spread), no aggregate, no join."""
    p = plan_of(entry_mod.q_dedup_paragraphs(spark, SF))
    for m in re.finditer(r"\(\d+\) Exchange\n(?:.*\n)*?Arguments: (\S+)", p):
        assert m.group(1).startswith("RoundRobinPartitioning"), m.group(0)
    assert "SortMergeJoin" not in p and "HashAggregate" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_postings_audit_partial_aggs(spark):
    """Postings audit: the (term, doc) distinct and the per-term byte
    sum must both partial-aggregate map-side; the lag window is keyed
    by term (never partitionless)."""
    p = plan_of(entry_mod.q_postings_audit(spark, SF))
    assert "partial_sum" in p or "partial_count" in p
    assert "Window" in p
    # a partitionless window would gather the corpus on one task
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p


def test_mojibake_and_url_features_scan_speed(spark):
    """Mojibake stats/repair and URL features are row-local
    projections: no key shuffle, no aggregate, no join, no UDF."""
    for q in (
        entry_mod.q_mojibake_stats,
        entry_mod.q_fix_mojibake,
        entry_mod.q_url_features,
    ):
        p = plan_of(q(spark, SF))
        for m in re.finditer(r"\(\d+\) Exchange\n(?:.*\n)*?Arguments: (\S+)", p):
            assert m.group(1).startswith("RoundRobinPartitioning"), m.group(0)
        assert "SortMergeJoin" not in p and "HashAggregate" not in p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_extraction_density_scan_speed_and_host_cardinality_partials(spark):
    """extraction_density is a row-local projection; host_cardinality's
    two distinct counts must plan as Expand + two-phase partial
    aggregation (never a per-host gather)."""
    p = plan_of(entry_mod.q_extraction_density(spark, SF))
    for m in re.finditer(r"\(\d+\) Exchange\n(?:.*\n)*?Arguments: (\S+)", p):
        assert m.group(1).startswith("RoundRobinPartitioning"), m.group(0)
    assert "HashAggregate" not in p and "SortMergeJoin" not in p
    p2 = plan_of(entry_mod.q_host_cardinality(spark, SF))
    assert "Expand" in p2 and "partial" in p2
    assert "CartesianProduct" not in p2

def test_dsir_lambda_broadcast_and_topk(spark):
    """DSIR: the ≤dims-row λ table must BROADCAST into the scoring join
    (the corpus side never shuffles for the model), and the Gumbel
    top-n must compile to TakeOrderedAndProject (per-partition partial
    top-n, no global sort); no cartesian work anywhere."""
    p = plan_of(entry_mod.q_dsir_weights(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    p2 = plan_of(entry_mod.q_dsir_topk(spark, SF))
    assert "TakeOrderedAndProject" in p2
    assert "CartesianProduct" not in p2


def test_kmv_window_group_limit_and_ungrouped_take_ordered(spark):
    """Grouped KMV must keep per-group minima via WindowGroupLimit;
    ungrouped must take the TakeOrderedAndProject path (a global window
    would single-partition every distinct hash)."""
    from correctocr_spark.ops.sketch import kmv_sketch

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    grouped = plan_of(kmv_sketch(docs, "doc_id", "lang", k=16))
    assert "WindowGroupLimit" in grouped
    ungrouped = plan_of(kmv_sketch(docs, "doc_id", None, k=16))
    assert "TakeOrderedAndProject" in ungrouped
    assert "WindowGroupLimit" not in ungrouped


def test_stratified_sample_plan(spark):
    """The literal row_number() <= total pre-cut must compile to
    WindowGroupLimit and the quota join must broadcast."""
    from correctocr_spark.ops.cleaning import stratified_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(stratified_sample(docs, "lang", 97))
    assert "WindowGroupLimit" in p
    assert "BroadcastHashJoin" in p


def test_embedding_outliers_plan(spark):
    """One scan + one broadcast of the dimension-small moment table —
    no sort-merge join, no more than the two agg exchanges."""
    import __spark_entry__ as em
    from correctocr_spark.ops.similarity import embedding_outliers

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = plan_of(embedding_outliers(emb, em._IVF_CENTROIDS, 1500))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # formatted explain lists each node twice (tree + details)
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 2


def test_phrase_search_plan_no_distinct_expand(spark):
    """(doc, base, off) is unique by construction, so the anchor agg is
    a plain count — the plan must carry no Expand (distinct-agg) node
    and at most 3 exchanges."""
    from correctocr_spark.ops.webindex import phrase_search

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(phrase_search(docs, "batch batch"))
    assert "Expand" not in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 3
