"""Named-graph SPARQL, unbounded path closure, ANN batches, recall eval.

Registry tranche split out of the former single-module registry
(VERDICT r10 item 9); entry code is unchanged — shared helpers live in
`cm_well_spark.registry._core`.
"""

from cm_well_spark.registry._core import *  # noqa: F401,F403

@register(
    "sparql_graph_const",
    oracle="""
    SELECT '/docs/' || doc_id AS d, source AS src FROM documents
    WHERE source = 'src7'
    """,
)
def sparql_graph_const(spark, sf_dir):
    """J4/J5 GRAPH <iri> { ... }: the enclosed BGP scopes to one named
    graph — a pushed-down `g ==` filter on the quad column (SPARQL 1.1
    §13.3; reference quad model: QuadTests.scala fixtures, value-level
    quad tags Infoton.scala:507)."""
    from cm_well_spark.operators.sparql import sparql_query

    return sparql_query(
        _tri(spark, sf_dir),
        "SELECT ?d ?src WHERE { GRAPH </graphs/src7> { ?d <source> ?src } }",
        limit_cap=None,
    )


@register(
    "sparql_graph_var",
    oracle="""
    SELECT '/graphs/' || source AS g2, count(*) AS n
    FROM documents GROUP BY 1
    """,
)
def sparql_graph_var(spark, sf_dir):
    """J4/J5 GRAPH ?g { ... }: iterate named graphs, binding ?g from the
    quad column in every enclosed pattern (patterns equi-join on it, so a
    solution stays within one graph). Provenance-grouped counting — the
    multi-source curation query shape."""
    from cm_well_spark.operators.sparql import sparql_query

    return sparql_query(
        _tri(spark, sf_dir),
        "SELECT ?g2 (COUNT(?d) AS ?n) WHERE { GRAPH ?g2 { ?d <source> ?src } } "
        "GROUP BY ?g2",
        limit_cap=None,
    )


@register(
    "sparql_path_plus_deep",
    oracle="""
    WITH RECURSIVE reach(x) AS (
      SELECT 30 UNION
      SELECT x - 1 FROM reach WHERE x % 16 != 0
    )
    SELECT '/events/' || x AS e FROM reach
    """,
)
def sparql_path_plus_deep(spark, sf_dir):
    """J5 unbounded `p+` closure: /events/31 -prevEvent-> 30 -> ... -> 16
    (15 hops — deeper than the old depth-6 bound, which answered this
    incompletely). Fixpoint frontier iteration capped at the reference's
    10k intermediate limit (Config.intermediateLimit,
    JenaArqExtensions.scala:311-321)."""
    from cm_well_spark.operators.sparql import sparql_query

    return sparql_query(
        _tri(spark, sf_dir),
        "SELECT ?e WHERE { </events/31> <prevEvent>+ ?e }",
        limit_cap=None,
    )


@register(
    "gremlin_loop_filter",
    oracle="""
    SELECT '/events/' || event_id AS path FROM events
    WHERE event_id BETWEEN 37 AND 40 AND value > 0
    """,
)
def gremlin_loop_filter(spark, sf_dir):
    """J6 Gremlin loop + filter pipes (GremlinParser.scala evaluates the
    full TinkerPop pipe library; this is the emitting bounded loop):
    walk prevEvent 3 hops from /events/40 emitting seed + intermediates,
    then keep vertices with a positive value."""
    from cm_well_spark.operators.gremlin import g as gremlin_g

    t = (
        gremlin_g(_inf(spark, sf_dir), _tri(spark, sf_dir))
        .V("/events/40")
        .loop(3, "prevEvent")
        .filter("value", ">", 0)
    )
    return t.paths()


@register(
    "gremlin_back_select",
    oracle="""
    SELECT '/tpch/orders/' || o_orderkey AS path
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice > 400000 AND c_mktsegment = 'BUILDING'
    """,
)
def gremlin_back_select(spark, sf_dir):
    """J6 Gremlin as/back pipes: orders over 400k whose customer sits in
    the BUILDING segment — `back` rewinds to the labeled step keeping
    only bindings the downstream pipeline matched (a projection of the
    threaded label column, no re-traversal)."""
    from cm_well_spark.operators.gremlin import g as gremlin_g

    t = (
        gremlin_g(_inf(spark, sf_dir), _tri(spark, sf_dir))
        .V()
        .has("rdfType", "Order")
        .filter("totalprice", ">", 400000)
        .as_("o")
        .out("byCustomer")
        .has("mktsegment", "BUILDING")
        .back("o")
    )
    return t.paths()


@register(
    "read_link_forward",
    oracle="""
    SELECT '/tpch/region/0' AS path, r_name AS name FROM region WHERE r_regionkey = 0
    """,
)
def read_link_forward(spark, sf_dir):
    """S1 completeness: read_path resolves LinkInfoton Forward chains
    (/links/a -> /links/b -> /tpch/region/0) transparently, bounded at
    the reference's 30-hop budget (LinkType.Forward Infoton.scala:269-273;
    recurseRead Application.scala:2502-2517)."""
    inf = _inf(spark, sf_dir)
    base = inf.where("path = '/tpch/region/0' AND current")

    def link(path: str, to: str, uid: str):
        return (
            base.withColumn("path", F.lit(path))
            .withColumn("kind", F.lit("LinkInfoton"))
            .withColumn("link_to", F.lit(to))
            .withColumn("link_kind", F.lit(2).cast("int"))
            .withColumn("uuid", F.lit(uid))
        )

    inf2 = inf.unionByName(link("/links/a", "/links/b", "link-a")).unionByName(
        link("/links/b", "/tpch/region/0", "link-b")
    )
    df = S.read_path(inf2, "/links/a", follow_links=30)
    return df.select("path", fv.first_value("name").alias("name"))


@register(
    "sparql_builtin_datetime",
    oracle="""
    SELECT '/tpch/orders/' || o_orderkey AS s, CAST(year(o_orderdate) AS VARCHAR) AS y
    FROM orders WHERE month(o_orderdate) = 3
    """,
)
def sparql_builtin_datetime(spark, sf_dir):
    """J5 SPARQL 1.1 §17.4.5 datetime accessors (YEAR/MONTH/DAY/HOURS/
    MINUTES/SECONDS/TZ): parse the canonical ISO lexical form at the use
    site — native Catalyst to_timestamp/year/month, no shadow columns."""
    from cm_well_spark.operators.sparql import sparql_query

    return sparql_query(
        _tri(spark, sf_dir),
        'SELECT ?s ?y WHERE { ?s <rdfType> "Order" . ?s <orderdate> ?d . '
        "BIND(YEAR(?d) AS ?y) FILTER(MONTH(?d) = 3) }",
        limit_cap=None,
    )


@register(
    "sparql_term_fns",
    oracle="""
    SELECT '/tpch/region/' || r_regionkey AS s,
           'http://www.w3.org/2001/XMLSchema#long' AS dt
    FROM region
    """,
)
def sparql_term_fns(spark, sf_dir):
    """J5 RDF term functions (§17.4.1-2): DATATYPE from the typed vtype
    shadow; ISNUMERIC/ISIRI/ISLITERAL/SAMETERM as native predicates over
    the engine's term model (IRIs = paths / http URIs)."""
    from cm_well_spark.operators.sparql import sparql_query

    return sparql_query(
        _tri(spark, sf_dir),
        'SELECT ?s ?dt WHERE { ?s <rdfType> "Region" . ?s <regionkey> ?k . '
        "BIND(DATATYPE(?k) AS ?dt) FILTER(ISNUMERIC(?k) && !ISIRI(?k)) }",
        limit_cap=None,
    )


@register(
    "curation_repetition_signals",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, text, string_split({_NORM_SQL.format(c='text')}, ' ') AS w
      FROM documents
    ), ln AS (
      SELECT doc_id, unnest(string_split(text, chr(10))) AS key FROM documents
    ), lc AS (
      SELECT doc_id, key, count(*) AS c FROM ln GROUP BY 1, 2
    ), ls AS (
      SELECT doc_id,
             round(coalesce(sum(CASE WHEN c > 1 THEN c END) * 1.0 / sum(c), 0), 6)
               AS dup_line_frac,
             round(coalesce(sum(CASE WHEN c > 1 THEN length(key) * c END) * 1.0
                            / sum(length(key) * c), 0), 6) AS dup_line_char_frac
      FROM lc GROUP BY 1
    ), g2 AS (
      SELECT doc_id, unnest(list_transform(range(1, len(w) - 2 + 2),
                                           i -> array_to_string(w[i:i+1], ' '))) AS key
      FROM w WHERE len(w) >= 2
    ), c2 AS (
      SELECT doc_id, key, count(*) AS c FROM g2 GROUP BY 1, 2
    ), t2 AS (
      SELECT doc_id, round(max(c) * 1.0 / sum(c), 6) AS top_kgram_frac FROM c2 GROUP BY 1
    ), g5 AS (
      SELECT doc_id, unnest(list_transform(range(1, len(w) - 5 + 2),
                                           i -> array_to_string(w[i:i+4], ' '))) AS key
      FROM w WHERE len(w) >= 5
    ), c5 AS (
      SELECT doc_id, key, count(*) AS c FROM g5 GROUP BY 1, 2
    ), d5 AS (
      SELECT doc_id,
             round(coalesce(sum(CASE WHEN c > 1 THEN c END) * 1.0 / sum(c), 0), 6)
               AS dup_kgram_frac
      FROM c5 GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(ls.dup_line_frac, 0) AS dup_line_frac,
           coalesce(ls.dup_line_char_frac, 0) AS dup_line_char_frac,
           coalesce(t2.top_kgram_frac, 0) AS top_kgram_frac,
           coalesce(d5.dup_kgram_frac, 0) AS dup_kgram_frac
    FROM documents d
    LEFT JOIN ls USING (doc_id) LEFT JOIN t2 USING (doc_id) LEFT JOIN d5 USING (doc_id)
    """,
)
def curation_repetition_signals(spark, sf_dir):
    """Gopher/MassiveText repetition quality signals (Rae et al. 2021
    A1.1): duplicate-line fraction (count- and char-weighted), most-
    frequent-2gram occupancy, duplicated-5gram fraction. Three explode ->
    keyed hash aggregations, all map-side combining — the rule filters a
    100 TB corpus build runs alongside the C4-style quality score."""
    from cm_well_spark.operators.text import repetition_signals
    from cm_well_spark.sources import tables as tbl

    out = repetition_signals(tbl.load_table(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        *[
            F.round(F.col(c), 6).alias(c)
            for c in ("dup_line_frac", "dup_line_char_frac", "top_kgram_frac", "dup_kgram_frac")
        ],
    )


@register(
    "curation_pii_scrub",
    oracle="""
    SELECT c_custkey AS doc_id,
           'contact [PII] or [PII] or [PII] now' AS text,
           1 AS n_email, 1 AS n_ipv4, 1 AS n_phone
    FROM customer
    """,
)
def curation_pii_scrub(spark, sf_dir):
    """PII scrubbing for corpus prep: emails / IPv4s / phones redacted by
    chained regexp_replace in one codegen'd projection, with per-category
    counts. The entry synthesizes deterministic PII-bearing text from the
    customer table so the oracle pins the exact redaction output, not a
    mirrored regex."""
    from cm_well_spark.operators.curation import scrub_pii
    from cm_well_spark.sources import tables as tbl

    cust = tbl.load_table(spark, sf_dir, "customer")
    docs = cust.select(
        F.col("c_custkey").alias("doc_id"),
        F.concat(
            F.lit("contact user"), F.col("c_custkey"),
            F.lit("@corp.example.com or 10.0.0."), F.col("c_custkey") % 200,
            F.lit(" or 555-000-"), F.col("c_custkey"), F.lit(" now"),
        ).alias("text"),
    )
    out = scrub_pii(docs)
    return out.select("doc_id", "text", "n_email", "n_ipv4", "n_phone")


@register("similarity_lsh_topk_batch", oracle=_lsh_batch_oracle_sql(k=5, n_queries=4))
def similarity_lsh_topk_batch(spark, sf_dir):
    """Batched SRP-LSH ANN: top-5 per query for 4 query vectors, bucket
    equi-join candidates, the recall guard fused in-plan (anti-join
    selects short queries; only those re-score against the full corpus).
    Hash-matched (r9): deterministic planes + 6dp ranking make the whole
    batch replayable in SQL; pytest additionally pins parity with the
    single-query operator and the fallback contract."""
    from cm_well_spark.operators.similarity import lsh_topk_batch
    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    qrows = embs.orderBy("vec_id").limit(4).collect()
    queries = spark.createDataFrame(
        [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in qrows],
        "query_id long, embedding array<double>",
    )
    # dim=64 is the embeddings-table contract (same width knn_graph
    # assumes); passing it elides the one-row dim-probe job (r11)
    return lsh_topk_batch(embs, queries, k=5, n_planes=6, dim=64)


@register("similarity_recall_eval", oracle=_ann_recall_oracle_sql(k=5, n_queries=8))
def similarity_recall_eval(spark, sf_dir):
    """Recall@k evaluation harness (similarity.py:ann_recall_at_k): the
    SRP-LSH route measured against the exact cosine ranking per query —
    the trust-but-verify loop an ANN deployment runs before switching a
    100 TB retrieval job off brute force, hash-matched end to end (the
    DuckDB twin replays buckets, guard, both rankings and the
    intersection)."""
    from cm_well_spark.operators.similarity import ann_recall_at_k
    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    queries = embs.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_recall_at_k(embs, queries, k=5, n_planes=6, dim=64)


@register(
    "sparql_path_group_plus",
    oracle="""
    SELECT '/events/' || x AS e FROM range(32, 39, 2) t(x)
    """,
)
def sparql_path_group_plus(spark, sf_dir):
    """J5 grouped-sequence closure (p1/p2)+ — ARQ path algebra: the
    closure's composite step is the fixed chain (const-anchored on the
    first step), iterated by the same fixpoint machinery as single-elem
    p+. /events/40 double-hops the prevEvent chain: 38, 36, 34, 32."""
    from cm_well_spark.operators.sparql import sparql_query

    return sparql_query(
        _tri(spark, sf_dir),
        "SELECT ?e WHERE { </events/40> (<prevEvent>/<prevEvent>)+ ?e }",
        limit_cap=None,
    )


@register(
    "sparql_sum_expr_revenue",
    oracle="""
    SELECT l_returnflag AS rf,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem GROUP BY 1
    """,
)
def sparql_sum_expr_revenue(spark, sf_dir):
    """J5/§2.7 aggregate over an arithmetic expression — the TPC-H Q1
    revenue form SUM(price * (1 - discount)), now expressible directly:
    SPARQL 1.1 §17.3 numeric operators compile onto the typed num
    shadows, aggregates accept full expression arguments. Both stores
    are passed, as a real whole-graph caller has them: the stats
    reorderer plus the squash-by-subject doc route collapse the 3-way
    same-subject self-join into one doc-table scan (~2x at sf0.1)."""
    from cm_well_spark.operators.sparql import sparql_query

    df = sparql_query(
        _tri(spark, sf_dir),
        "SELECT ?rf (SUM(?p * (1 - ?d)) AS ?revenue) WHERE { "
        "?li <returnflag> ?rf . ?li <extendedprice> ?p . ?li <discount> ?d } "
        "GROUP BY ?rf",
        limit_cap=None,
        stats=_stats(spark, sf_dir),
        infotons=_inf(spark, sf_dir),
    )
    return df.select("rf", F.round("revenue", 2).alias("revenue"))


@register(
    "sparql_select_expr",
    oracle="""
    SELECT '/tpch/region/' || r_regionkey AS s,
           CAST(r_regionkey * 10 + 1 AS DOUBLE) AS scaled
    FROM region
    """,
)
def sparql_select_expr(spark, sf_dir):
    """J5 SELECT (expr AS ?alias) projection expressions (SPARQL 1.1
    §16.1.2) — evaluated like BINDs over the solution frame."""
    from cm_well_spark.operators.sparql import sparql_query

    return sparql_query(
        _tri(spark, sf_dir),
        'SELECT ?s (?k * 10 + 1 AS ?scaled) WHERE { ?s <rdfType> "Region" . ?s <regionkey> ?k }',
        limit_cap=None,
    )


@register(
    "sparql_construct_where",
    oracle="""
    SELECT '/tpch/nation/' || n_nationkey AS s, 'ofRegion' AS p,
           '/tpch/region/' || n_regionkey AS o
    FROM nation
    """,
)
def sparql_construct_where(spark, sf_dir):
    """J4 CONSTRUCT WHERE shorthand (§10.2.2): template = the pattern's
    own triples."""
    from cm_well_spark.operators.sparql import sparql_query

    return sparql_query(
        _tri(spark, sf_dir), "CONSTRUCT WHERE { ?n <ofRegion> ?r }", limit_cap=None
    )


@register(
    "admin_replace_graph",
    oracle="""
    SELECT '/docs/' || doc_id AS path, (source != 'src7') AS has_source
    FROM documents
    """,
)
def admin_replace_graph(spark, sf_dir):
    """W3/F8 graph-wide retraction (`replaceGraph`, QuadTests fixtures):
    every value tagged /graphs/src7 is retracted store-wide as new
    versions — src7 documents lose their (quad-tagged) source value,
    everything else is untouched."""
    from cm_well_spark.operators.admin import replace_graph

    out = replace_graph(_inf(spark, sf_dir), "/graphs/src7")
    docs = out.where(F.col("current") & F.col("path").startswith("/docs/"))
    return docs.select(
        "path", F.col("fields").getItem("source").isNotNull().alias("has_source")
    )


@register(
    "search_quad_alias",
    oracle="""
    SELECT '/docs/' || doc_id AS path FROM documents WHERE source = 'src7'
    UNION ALL SELECT '/meta/quad/seven'
    """,
)
def search_quad_alias(spark, sf_dir):
    """F8 graph-alias quad filter (UnevaluatedQuadFilter ->
    getQuadUrlForAlias; alias registered via the graphAlias meta op,
    QuadTests.scala:258): `system.quad::seven` resolves through the
    store's graphAlias statement to /graphs/src7. The registration
    infoton itself carries the quad tag, so it matches too — same as the
    reference's quad-tagged meta statement."""
    from cm_well_spark.model.lakehouse import triples_of

    inf = _inf(spark, sf_dir)
    base = inf.where("path = '/tpch/region/0' AND current")
    reg = (
        base.withColumn("path", F.lit("/meta/quad/seven"))
        .withColumn("uuid", F.lit("alias-seven"))
        .withColumn(
            "fields",
            F.create_map(
                F.lit("graphAlias"), F.expr(fv.single("'seven'", "s", quad="'/graphs/src7'"))
            ),
        )
    )
    inf2 = inf.unionByName(reg)
    df = S.search(inf2, qp="system.quad::seven", length=None, triples=triples_of(inf2))
    return df.select("path")


@register(
    "sparql_from_dataset",
    oracle="""
    SELECT '/docs/' || doc_id AS d, source AS src FROM documents
    WHERE source IN ('src2', 'src9')
    """,
)
def sparql_from_dataset(spark, sf_dir):
    """J4 FROM dataset clauses (SPARQL 1.1 §13.2): the default graph is
    the merge of the listed named graphs — pushed-down `g isin` scan
    filters; untagged triples are excluded, and (spec-faithful) the named
    graph set is empty unless FROM NAMED lists it."""
    from cm_well_spark.operators.sparql import sparql_query

    return sparql_query(
        _tri(spark, sf_dir),
        "SELECT ?d ?src FROM </graphs/src2> FROM </graphs/src9> "
        "WHERE { ?d <source> ?src }",
        limit_cap=None,
    )


@register(
    "gremlin_string_eval",
    oracle="""
    SELECT '/tpch/region/' || n_regionkey AS path, r_name AS value
    FROM nation JOIN region ON n_regionkey = r_regionkey
    WHERE n_nationkey = 3
    """,
)
def gremlin_string_eval(spark, sf_dir):
    """J6 Gremlin STRING front-end (the reference plugin's eval surface,
    GremlinParser.scala:32): a pipe-chain query string maps step-for-step
    onto the fluent DSL — the full J6 path from query text to DataFrame."""
    from cm_well_spark.operators.gremlin import eval_gremlin

    return eval_gremlin(
        _inf(spark, sf_dir),
        _tri(spark, sf_dir),
        'g.V("/tpch/nation/3").out("ofRegion").values("name")',
    )


@register(
    "sparql_blank_node_list",
    oracle="""
    SELECT n_name AS n, r_name AS rn
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def sparql_blank_node_list(spark, sf_dir):
    """J4 blank-node property lists (§4.1.4): `[ ... ]` compiles to a
    fresh internal variable that equi-joins across its property triples
    but never projects (SELECT * excludes it)."""
    from cm_well_spark.operators.sparql import sparql_query

    return sparql_query(
        _tri(spark, sf_dir),
        'SELECT ?n ?rn WHERE { [ <rdfType> "Nation" ; <name> ?n ; <ofRegion> [ <name> ?rn ] ] }',
        limit_cap=None,
    )


@register(
    "streaming_exact_dedup_count",
    oracle=f"""
    SELECT count(DISTINCT md5({_NORM_SQL.format(c='text')})) AS n FROM documents
    """,
)
def streaming_exact_dedup_count(spark, sf_dir):
    """Streaming exact dedup (dropDuplicatesWithinWatermark over the
    content fingerprint, bounded state): the documents table replayed as
    a file stream, deduped in-flight; the surviving row count equals the
    batch distinct-fingerprint count — the streaming/batch parity a
    Lambda-free pipeline depends on."""
    import os
    import shutil
    import tempfile
    import uuid

    from cm_well_spark.sources import tables as tbl
    from cm_well_spark.streaming.dedup import streaming_exact_dedup

    docs = tbl.load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(secs=F.col("doc_id"))).alias("ts"),
    )
    work = tempfile.mkdtemp(prefix="cmw_sdedup_")
    feed = os.path.join(work, "feed")
    docs.write.mode("overwrite").parquet(feed)
    stream = spark.readStream.schema(docs.schema).parquet(feed)
    name = f"sdedup_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_exact_dedup(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.sql(f"SELECT count(*) AS n FROM {name}")
    n = out.first()["n"]  # materialize before the feed dir is removed
    shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame([(n,)], "n long")


@register(
    "text_chunk_documents",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
    ), s AS (
      SELECT doc_id, w,
             greatest(CAST(ceil((len(w) - 32) * 1.0 / 32) AS INT) + 1, 1) AS nc
      FROM w
    ), e AS (
      SELECT doc_id, w, unnest(range(0, nc)) AS ci FROM s
    )
    SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
           array_to_string(w[ci*32+1 : ci*32+32], ' ') AS chunk,
           least(len(w) - ci*32, 32) AS n_words
    FROM e
    """,
)
def text_chunk_documents(spark, sf_dir):
    """Context-window document chunking (the RAG/embedding/pretraining
    splitter): fixed 32-word windows, no overlap here (stride=size) —
    pure columnar split+transform+posexplode, zero shuffle, rides the
    document scan."""
    from cm_well_spark.operators.text import chunk_documents
    from cm_well_spark.sources import tables as tbl

    return chunk_documents(tbl.load_table(spark, sf_dir, "documents"), size=32)


@register(
    "sparql_min_max_terms",
    oracle="""
    SELECT c_mktsegment AS seg, min(c_name) AS first_name,
           CAST(max(c_acctbal) AS VARCHAR) AS top_bal
    FROM customer GROUP BY 1
    """,
)
def sparql_min_max_terms(spark, sf_dir):
    """J5 MIN/MAX as TERM aggregates (§18.5.1.3-4): strings order
    lexically, numerics numerically via the typed shadow, and the result
    is the winning term's lexical form — MIN over names and MAX over
    balances in one grouped query."""
    from cm_well_spark.operators.sparql import sparql_query

    return sparql_query(
        _tri(spark, sf_dir),
        "SELECT ?seg (MIN(?n) AS ?first_name) (MAX(?b) AS ?top_bal) WHERE { "
        "?c <mktsegment> ?seg . ?c <name> ?n . ?c <acctbal> ?b } GROUP BY ?seg",
        limit_cap=None,
    )


@register(
    "sparql_having_inline_agg",
    oracle="""
    SELECT c_mktsegment AS seg FROM customer
    GROUP BY 1 HAVING count(*) > 10 AND round(avg(c_acctbal), 6) > 4000
    """,
)
def sparql_having_inline_agg(spark, sf_dir):
    """J5 HAVING with inline aggregate calls (§11.2): the aggregates ride
    the same hash aggregation under hidden aliases; the filter rewrites
    to the alias columns."""
    from cm_well_spark.operators.sparql import sparql_query

    return sparql_query(
        _tri(spark, sf_dir),
        "SELECT ?seg WHERE { ?c <mktsegment> ?seg . ?c <acctbal> ?b } "
        "GROUP BY ?seg HAVING (COUNT(*) > 10 && AVG(?b) > 4000)",
        limit_cap=None,
    )


@register(
    "sparql_group_by_expr",
    oracle="""
    SELECT year(o_orderdate) AS y, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY 1
    """,
)
def sparql_group_by_expr(spark, sf_dir):
    """J5 computed group keys — GROUP BY (YEAR(?d) AS ?y) (§11.1): the
    per-year rollup every time-series analysis starts with, one hash
    aggregation over the bound key."""
    from cm_well_spark.operators.sparql import sparql_query

    df = sparql_query(
        _tri(spark, sf_dir),
        'SELECT ?y (COUNT(*) AS ?n) (SUM(?p) AS ?total) WHERE { '
        '?o <rdfType> "Order" . ?o <orderdate> ?d . ?o <totalprice> ?p } '
        "GROUP BY (YEAR(?d) AS ?y)",
        limit_cap=None,
    )
    return df.select("y", "n", F.round("total", 2).alias("total"))


@register(
    "text_tfidf_keywords",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM_SQL.format(c='text')}, ' ')) AS tok
      FROM documents
    ), tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks WHERE tok != '' GROUP BY 1, 2
    ), dfreq AS (
      SELECT tok, count(*) AS df FROM tf GROUP BY 1
    ), scored AS (
      SELECT doc_id, tok,
             tf * ln((SELECT count(*) FROM documents) * 1.0 / df) AS tfidf
      FROM tf JOIN dfreq USING (tok)
    ), ranked AS (
      SELECT doc_id, tok, tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rank
      FROM scored
    )
    SELECT doc_id, CAST(rank AS INT) AS rank, tok, round(tfidf, 6) AS tfidf
    FROM ranked WHERE rank <= 3
    """,
)
def text_tfidf_keywords(spark, sf_dir):
    """TF-IDF keyword extraction (top-3 per document): two keyed hash
    aggregations + a vocabulary join + per-doc window — the standard
    corpus keyword/topic-signal pass."""
    from cm_well_spark.operators.text import tfidf_keywords
    from cm_well_spark.sources import tables as tbl

    return tfidf_keywords(tbl.load_table(spark, sf_dir, "documents"), k=3)


@register(
    "consume_qp_filtered",
    oracle="""
    SELECT '/tpch/customer/' || c_custkey AS path,
           1720000000000 + c_custkey AS index_time
    FROM customer WHERE c_mktsegment = 'BUILDING'
    ORDER BY index_time ASC LIMIT 10
    """,
)
def consume_qp_filtered(spark, sf_dir):
    """T4 consume with a qp filter baked into the position token
    (SortedConsumeState carries the qp; Parsers.scala:642-709): the
    change feed delivers only matching infotons, ordered by index_time
    under the watermark."""
    from cm_well_spark.operators.consume import consume, create_consumer

    token = create_consumer(path="/tpch/customer", qp="mktsegment::BUILDING")
    _, df, status = consume(_inf(spark, sf_dir), token, chunk=10, now_ms=_FEED_NOW)
    assert status == 200
    return df.select("path", "index_time")


