"""Oracle coverage for twins demoted from the 50-entry driver registry in
round 3 (the driver records at most 50 rows, so variants whose semantics are
already carried by another entry live here): the batch hourly rollup
(stream twin carries the oracle), the standalone decode query (subsumed by
rdf_text_lifecycle), all-pairs Jaccard (dedup_minhash's oracle IS exact
Jaccard), and the split+p persisted layout (rdf_layout_matrix carries the
4-layout invariance)."""

from __future__ import annotations

from rdfproject_msc_spark import registry as R
from tests.oracle import assert_matches_oracle


def test_rdf_decode_2hop(spark, sf_dir):
    assert_matches_oracle(
        R.rdf_decode_2hop(spark, sf_dir), R.RDF_DECODE_2HOP_SQL, sf_dir
    )


def test_events_hourly_batch(spark, sf_dir):
    assert_matches_oracle(
        R.events_hourly(spark, sf_dir), R.EVENTS_HOURLY_SQL, sf_dir
    )


def test_dedup_jaccard(spark, sf_dir):
    assert_matches_oracle(
        R.dedup_jaccard(spark, sf_dir), R.DEDUP_JACCARD_SQL, sf_dir
    )


def test_rdf_split_join_pstore(spark, sf_dir):
    assert_matches_oracle(
        R.rdf_split_join_pstore(spark, sf_dir), R.RDF_SPLIT_JOIN_SQL, sf_dir
    )


def test_text_langid_matches_oracle(spark, sf_dir):
    """Demoted r6 (slot → text_ngram_top): the n-gram language-ID
    heuristic, exact DuckDB oracle."""
    assert_matches_oracle(
        R.text_langid(spark, sf_dir), R.TEXT_LANGID_SQL, sf_dir
    )


def test_multimodal_decode_matches_oracle(spark, sf_dir):
    """Demoted r6 (slot → docs_quota_sample): the Arrow mapInPandas
    decode plumbing with its declared schema, exact DuckDB oracle."""
    assert_matches_oracle(
        R.multimodal_decode(spark, sf_dir), R.MULTIMODAL_DECODE_SQL, sf_dir
    )


def test_text_fingerprint_matches_oracle(spark, sf_dir):
    """Demoted r6 (slot → sparql_from): rolling-hash document
    fingerprinting, exact DuckDB oracle."""
    assert_matches_oracle(
        R.text_fingerprint(spark, sf_dir), R.TEXT_FINGERPRINT_SQL, sf_dir
    )


def test_sparql_optional_matches_oracle(spark, sf_dir):
    """Demoted r6 (slot → sparql_lang): OPTIONAL → LeftJoin with the
    group-scoped FILTER folded into the join condition (§18.2.2.2)."""
    assert_matches_oracle(
        R.sparql_optional(spark, sf_dir), R.SPARQL_OPTIONAL_SQL, sf_dir
    )


def test_sparql_union_matches_oracle(spark, sf_dir):
    """SPARQL UNION over the real graph: order-placedBy arm UNION ALL
    event-byUser arm — the user-facing form of the sign-split recombination
    the reference's translator emitted by hand."""
    from rdfproject_msc_spark.dictionary import Dictionary
    from rdfproject_msc_spark.sources.derived import (
        DICTIONARY_SQL,
        TRIPLES_SQL,
        dictionary_df,
        triples_df,
    )
    from rdfproject_msc_spark.sparql.planner import sparql_to_df
    from rdfproject_msc_spark.store import TripleStore

    store = TripleStore(triples_df(spark, sf_dir), layout="sign_split")
    d = Dictionary(dictionary_df(spark, sf_dir))
    df = sparql_to_df(
        store,
        "SELECT ?s ?o WHERE { { ?s :placedBy ?o } UNION { ?s :byUser ?o } }",
        d,
    )
    sql = f"""WITH triples AS ({TRIPLES_SQL})
    SELECT s, o FROM triples WHERE p = 18
    UNION ALL
    SELECT s, o FROM triples WHERE p = 48
    """
    assert_matches_oracle(df, sql, sf_dir)


def test_events_distinct_users(spark, sf_dir):
    """Demoted r5 (slot → sparql_subquery): per-group exact DISTINCT
    aggregation; the HLL sketch's bounded error vs this exact form stays
    pinned in tests/test_registry_extras.py."""
    assert_matches_oracle(
        R.events_distinct_users(spark, sf_dir),
        R.EVENTS_DISTINCT_USERS_SQL,
        sf_dir,
    )


def test_sparql_filter(spark, sf_dir):
    """Demoted r5 (slot → sparql_graph): FILTER connectives && / || / !
    with parentheses over an alternation path — also fuzz-covered by
    test_properties.py's random clause compositions."""
    assert_matches_oracle(
        R.sparql_filter(spark, sf_dir), R.SPARQL_FILTER_SQL, sf_dir
    )


def test_sparql_graph_matches_oracle(spark, sf_dir):
    """Demoted r14 (it was registry row 51, past the 50-row
    correctness window): GRAPH ?g over the named-graph quads, joined
    with a default-graph pattern."""
    assert_matches_oracle(
        R.sparql_graph(spark, sf_dir), R.SPARQL_GRAPH_SQL, sf_dir
    )


def test_sparql_2hop_store(spark, sf_dir):
    """Demoted r5 (slot → sparql_nested): the persisted sign-split store
    variant of sparql_2hop — partition-pruned scans feeding the same
    2-hop plan. sparql_2hop keeps the shared oracle's driver row."""
    assert_matches_oracle(
        R.sparql_2hop_store(spark, sf_dir), R.SPARQL_2HOP_SQL, sf_dir
    )


def test_sparql_topk(spark, sf_dir):
    """Demoted in round 4 (slot given to sparql_groupby): DISTINCT/ORDER
    BY/LIMIT lowering — TakeOrderedAndProject, not a global sort."""
    from rdfproject_msc_spark.sparql.planner import sparql_to_df

    df = sparql_to_df(
        R._store(spark, sf_dir), R.SPARQL_TOPK, R._dict(spark, sf_dir)
    )
    assert_matches_oracle(df, R.SPARQL_TOPK_SQL, sf_dir)


def test_rdf_split_join_bound(spark, sf_dir):
    """Demoted r4 (slot → corpus_split): the bound-subject variant of
    rdf_split_join; the sign-routing it pins is also compiled by
    sparql_2hop_store, and the unbound form keeps its driver row."""
    assert_matches_oracle(
        R.rdf_split_join_bound(spark, sf_dir),
        R.RDF_SPLIT_JOIN_BOUND_SQL,
        sf_dir,
    )


def test_orders_cube(spark, sf_dir):
    """Demoted r4 (slot → doc_pack): CUBE is the 4-set sibling of the
    ROLLUP entry that keeps its driver row (orders_rollup, headline)."""
    assert_matches_oracle(
        R.orders_cube(spark, sf_dir), R.ORDERS_CUBE_SQL, sf_dir
    )


def test_rdf_split_join_count(spark, sf_dir):
    """Demoted r4 (slot → sparql_regex): the A1 COUNT cross-check of
    rdf_split_join, whose full row set keeps its driver row."""
    assert_matches_oracle(
        R.rdf_split_join_count(spark, sf_dir),
        R.RDF_SPLIT_JOIN_COUNT_SQL,
        sf_dir,
    )


def test_sparql_star(spark, sf_dir):
    """Demoted r4 (slot → text_decontaminate): star-shaped BGP — two
    patterns joined on the shared subject variable."""
    assert_matches_oracle(
        R.sparql_star(spark, sf_dir), R.SPARQL_STAR_SQL, sf_dir
    )


def test_rdf_path_2hop_store(spark, sf_dir):
    """Demoted r5 (slot → sparql_compat): the persisted-store 2-hop —
    rdf_layout_matrix keeps the 4-layout invariance row; the pruning plan
    pin lives in tests/test_skew_and_plans.py."""
    assert_matches_oracle(
        R.rdf_path_2hop_store(spark, sf_dir), R.RDF_PATH_2HOP_SQL, sf_dir
    )


def test_text_top_tokens(spark, sf_dir):
    """Demoted r5 (slot → bm25_search): corpus heavy hitters — the token
    explode + keyed aggregation machinery is shared with text_tokens and
    the LM vocabulary builder."""
    assert_matches_oracle(
        R.text_top_tokens(spark, sf_dir), R.TEXT_TOP_TOKENS_SQL, sf_dir
    )


def test_customers_setops_matches_oracle(spark, sf_dir):
    """Demoted r7 (slot → sparql_value_cmp): INTERSECT / EXCEPT set
    operations, exact DuckDB oracle."""
    assert_matches_oracle(
        R.customers_setops(spark, sf_dir), R.CUSTOMERS_SETOPS_SQL, sf_dir
    )


def test_text_tokens_matches_oracle(spark, sf_dir):
    """Demoted r7 (slot → passage_dedup; family twin text_stats keeps a
    driver row): whitespace + BPE-ish token counting, exact DuckDB
    oracle."""
    assert_matches_oracle(
        R.text_tokens(spark, sf_dir), R.TEXT_TOKENS_SQL, sf_dir
    )


def test_events_pivot_matches_oracle(spark, sf_dir):
    """Demoted r8 (slot → semantic_dedup): pivot() with an explicit value
    list vs conditional-aggregation oracle."""
    assert_matches_oracle(
        R.events_pivot(spark, sf_dir), R.EVENTS_PIVOT_SQL, sf_dir
    )


def test_cosine_neardup_matches_oracle(spark, sf_dir):
    """Demoted r8 (slot → events_user_reach): LSH-candidate + exact-cosine
    near-dup pairs, exact DuckDB oracle with the same inlined planes."""
    assert_matches_oracle(
        R.cosine_neardup(spark, sf_dir), R.COSINE_NEARDUP_SQL, sf_dir
    )


def test_customer_running_revenue_matches_oracle(spark, sf_dir):
    """Demoted r8 (slot → bloom_decontam): per-customer cumulative window
    total, exact DuckDB window oracle."""
    assert_matches_oracle(
        R.customer_running_revenue(spark, sf_dir),
        R.CUSTOMER_RUNNING_REVENUE_SQL,
        sf_dir,
    )


def test_orders_percentiles_matches_oracle(spark, sf_dir):
    """Demoted r8 (slot → quality_model_filter): exact percentile_disc
    aggregation, exact DuckDB oracle."""
    assert_matches_oracle(
        R.orders_percentiles(spark, sf_dir), R.ORDERS_PERCENTILES_SQL, sf_dir
    )


def test_top_orders_per_priority_matches_oracle(spark, sf_dir):
    """Demoted r8 (slot → dsir_weights): salted exact top-N per group —
    the operators/topn.py machinery stays driver-checked via
    docs_quota_sample (the quota variant of the same salted windows)."""
    assert_matches_oracle(
        R.top_orders_per_priority(spark, sf_dir), R.TOP_ORDERS_SQL, sf_dir
    )


def test_multimodal_filter_matches_oracle(spark, sf_dir):
    """Demoted r9 (slot → rdf_ingest_nt): the typed-metadata predicate
    filter over binary assets — the pushdown-able modality/min-bytes
    projection stays exact vs the byte-arithmetic DuckDB twin."""
    assert_matches_oracle(
        R.multimodal_filter(spark, sf_dir), R.MULTIMODAL_FILTER_SQL, sf_dir
    )


def test_dedup_exact_matches_oracle(spark, sf_dir):
    """Demoted r9 (slot → rdf_update_lifecycle): exact dedup stays
    driver-checked as corpus_curate's first pipeline stage; this keeps
    the window-baseline vs scale-keys cross-check exact vs DuckDB."""
    assert_matches_oracle(
        R.dedup_exact(spark, sf_dir), R.DEDUP_EXACT_SQL, sf_dir
    )


def test_text_ngram_top_matches_oracle(spark, sf_dir):
    """Demoted r9 (slot → rdf_rdfs_closure): corpus n-gram heavy
    hitters — the explode + keyed-agg shape stays driver-checked via
    bm25_search; this keeps the exact DuckDB twin."""
    assert_matches_oracle(
        R.text_ngram_top(spark, sf_dir), R.TEXT_NGRAM_TOP_SQL, sf_dir
    )


def test_parts_semi_anti_matches_oracle(spark, sf_dir):
    """Demoted r11 (slot → sparql_value_order): LEFT SEMI / LEFT ANTI
    join shapes stay driver-adjacent through text_decontaminate and
    bloom_decontam; this keeps the exact DuckDB twin."""
    assert_matches_oracle(
        R.parts_semi_anti(spark, sf_dir), R.PARTS_SEMI_ANTI_SQL, sf_dir
    )


def test_text_stats_matches_oracle(spark, sf_dir):
    """Demoted r10 (slot → sparql_lexical_str): the per-document
    length/punct/word profile stays driver-adjacent through the
    quality/C4/Gopher rows; this keeps the exact DuckDB twin."""
    assert_matches_oracle(
        R.text_stats(spark, sf_dir), R.TEXT_STATS_SQL, sf_dir
    )


def test_events_props_json_matches_oracle(spark, sf_dir):
    """Demoted r12 (slot → rdf_ingest_rdfxml): JVM-side JSON-props
    extraction (get_json_object) stays driver-adjacent through the
    streaming payload handling; this keeps the exact DuckDB twin."""
    assert_matches_oracle(
        R.events_props_json(spark, sf_dir), R.EVENTS_PROPS_JSON_SQL, sf_dir
    )
