"""Graph analytics II, readability, decontamination, auth, repair.

Registry tranche split out of the former single-module registry
(VERDICT r10 item 9); entry code is unchanged — shared helpers live in
`cm_well_spark.registry._core`.
"""

from cm_well_spark.registry._core import *  # noqa: F401,F403

@register(
    "graph_connected_components",
    oracle=lambda sf_dir: _OP_EDGE_SQL
    + f""",
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    twin(node, component) AS (VALUES {_twin("cc_values", sf_dir)})
    SELECT n.node, t.component FROM nodes n JOIN twin t USING (node)
    """,
)
def graph_connected_components(spark, sf_dir):
    """Connected components (graph.py:connected_components, Kiveris et
    al. 2014 two-phase large-star/small-star contraction) over the
    order—part co-occurrence graph — the whole-graph dedup-cluster
    primitive. The
    min-node component labeling is canonical (algorithm-independent),
    so the oracle is an INDEPENDENT pure-Python union-find
    (oracle_twins.py, union-by-min — no label propagation)
    inlined as a VALUES twin; the node set is recomputed from lineitem
    in SQL and joined against the twin, so lost or invented nodes still
    break the row-count match."""
    from cm_well_spark.operators.graph import connected_components

    return connected_components(_op_edges(spark, sf_dir))


@register("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark, sf_dir):
    """2-core of the order—part co-occurrence graph (graph.py:k_core,
    synchronous peeling to fixpoint; Seidman 1983) -> (node,
    within-core degree). The k-core is the UNIQUE maximal subgraph with
    min degree >= k, so the fixpoint is engine-independent: the oracle
    chains 11 peel rounds (the pinned slice converges in 9 —
    tests/test_graph.py pins that — and post-fixpoint rounds are
    no-ops), making the hash compare cover the peeling itself."""
    from cm_well_spark.operators.graph import k_core

    return k_core(_op_edges(spark, sf_dir), k=2)


@register(
    "graph_bfs_distances",
    oracle=_LINK_EDGE_SQL.replace("WITH li", "WITH RECURSIVE li")
    + """
    , sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    walk(path, d) AS (
      SELECT * FROM (VALUES ('/tpch/customer/1', 0), ('/tpch/customer/2', 0)) v(path, d)
      UNION
      SELECT s.dst, w.d + 1 FROM sym s JOIN walk w ON s.src = w.path WHERE w.d < 3
    )
    SELECT path, CAST(min(d) AS BIGINT) AS distance FROM walk GROUP BY path
    """,
)
def graph_bfs_distances(spark, sf_dir):
    """Multi-source bounded BFS over the (undirected) link graph
    (graph.py:bfs_distances): min hop distance from two seed customers
    within 3 hops — the link-proximity curation signal. Deterministic
    (min distance), so the oracle replays it as a depth-bounded
    recursive CTE with a min() collapse."""
    from cm_well_spark.operators.graph import DEFAULT_LINK_FIELDS, bfs_distances, reference_edges

    seeds = spark.createDataFrame(
        [("/tpch/customer/1",), ("/tpch/customer/2",)], "path string"
    )
    return bfs_distances(
        reference_edges(_tri(spark, sf_dir), DEFAULT_LINK_FIELDS, dedup=False),
        seeds,
        max_depth=3,
    )


@register(
    "text_readability",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS ns,
             CASE WHEN length(trim(text)) > 0
                  THEN len(string_split_regex(trim(text), '\\s+')) ELSE 0 END AS nw,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS nsy
      FROM documents
    )
    SELECT doc_id,
           CAST(ns AS BIGINT) AS n_sentences,
           CAST(nw AS BIGINT) AS n_words,
           CAST(nsy AS BIGINT) AS n_syllables,
           CASE WHEN nw > 0 THEN
             round(206.835 - 1.015 * (nw / CAST(ns AS DOUBLE))
                           - 84.6 * (nsy / CAST(nw AS DOUBLE)), 4) END AS flesch,
           CASE WHEN nw > 0 THEN
             round(0.39 * (nw / CAST(ns AS DOUBLE))
                   + 11.8 * (nsy / CAST(nw AS DOUBLE)) - 15.59, 4) END AS fk_grade
    FROM m
    """,
)
def text_readability(spark, sf_dir):
    """Flesch reading ease + Flesch-Kincaid grade (text.py:readability,
    Kincaid et al. 1975) from three documented regexp_count heuristics
    — all JVM-side scan expressions, replayed verbatim by the oracle."""
    from cm_well_spark.operators.text import readability
    from cm_well_spark.sources import tables as tbl

    return readability(tbl.load_table(spark, sf_dir, "documents"))


@register(
    "curation_decontaminate",
    oracle=f"""
    WITH corp AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS w
      FROM documents WHERE doc_id >= 50
    ), bench AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS w
      FROM documents WHERE doc_id < 50
    ), cs AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 3, 0) + 2),
               i -> array_to_string(w[i:i+2], ' ')))) AS sh
      FROM corp
    ), bs AS (
      SELECT DISTINCT unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 3, 0) + 2),
               i -> array_to_string(w[i:i+2], ' ')))) AS sh
      FROM bench
    ), bad AS (
      SELECT doc_id FROM cs JOIN bs USING (sh)
      GROUP BY doc_id HAVING count(*) >= 2
    )
    SELECT d.doc_id, d.lang, d.n_chars FROM documents d
    WHERE d.doc_id >= 50 AND d.doc_id NOT IN (SELECT doc_id FROM bad)
    """,
)
def curation_decontaminate(spark, sf_dir):
    """Benchmark decontamination REMOVAL (curation.py:decontaminate —
    the GPT-3 appendix-C move): corpus docs sharing >= 2 word-3-grams
    with the benchmark set are dropped via a broadcast anti-join
    against the contaminated-id set; the oracle replays the shingle
    join and the NOT IN."""
    from cm_well_spark.operators.curation import decontaminate
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    out = decontaminate(
        docs.where(F.col("doc_id") >= 50),
        docs.where(F.col("doc_id") < 50),
        k=3,
        min_hits=2,
    )
    return out.select("doc_id", "lang", "n_chars")


@register("similarity_knn_graph", oracle=_knn_oracle_sql())
def similarity_knn_graph(spark, sf_dir):
    """Whole-corpus approximate kNN graph (similarity.py:knn_graph): SRP
    bucket self-join + per-node top-3 — the one similarity op whose
    query side is data-scale, so the plan is a pure two-shuffle
    equi-join with no broadcast anywhere. The oracle replays buckets,
    cosines, and the window verbatim."""
    from cm_well_spark.operators.similarity import knn_graph
    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    return knn_graph(embs, k=3, n_planes=6, dim=64)


@register(
    "events_trending_topk",
    oracle="""
    WITH c AS (
      SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:00') AS window_start,
             event_type, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY window_start
               ORDER BY n_events DESC, event_type ASC) AS rank
      FROM c
    ) WHERE rank <= 3
    """,
)
def events_trending_topk(spark, sf_dir):
    """Per-hour trending top-3 event types
    (aggregations.py:trending_topk): one windowed count + one
    per-window row_number over the reduced counts (never the raw
    events); deterministic tie-break makes the cut replayable. The
    streaming twin (streaming/windows.py:streaming_trending_counts +
    trending_topk_batch) is parity-pinned by pytest."""
    from cm_well_spark.operators.aggregations import trending_topk
    from cm_well_spark.sources import tables as tbl

    return trending_topk(tbl.load_table(spark, sf_dir, "events"), k=3)


@register(
    "events_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS x1 FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT s1.user_id, s1.x1,
             min(CASE WHEN e.ts > s1.x1 THEN e.ts END) AS x2
      FROM s1 LEFT JOIN events e
        ON e.user_id = s1.user_id AND e.event_type = 'click'
      GROUP BY 1, 2
    ),
    s3 AS (
      SELECT s2.user_id, s2.x1, s2.x2,
             min(CASE WHEN e.ts > s2.x2 THEN e.ts END) AS x3
      FROM s2 LEFT JOIN events e
        ON e.user_id = s2.user_id AND e.event_type = 'purchase'
      GROUP BY 1, 2, 3
    )
    SELECT user_id,
           strftime(x1, '%Y-%m-%d %H:%M:%S.%f') AS t1,
           strftime(x2, '%Y-%m-%d %H:%M:%S.%f') AS t2,
           strftime(x3, '%Y-%m-%d %H:%M:%S.%f') AS t3,
           CAST((x1 IS NOT NULL)::INT + (x2 IS NOT NULL)::INT
                + (x3 IS NOT NULL)::INT AS INT) AS depth
    FROM s3
    """,
)
def events_funnel(spark, sf_dir):
    """view -> click -> purchase conversion funnel
    (temporal.py:funnel): strictly-ordered earliest-completion times
    per user, NULL from the break onward, depth = completed steps. One
    keyed min per step + one left join per transition; the oracle
    chains the same conditional mins."""
    from cm_well_spark.operators.temporal import funnel
    from cm_well_spark.sources import tables as tbl

    ev = tbl.load_table(spark, sf_dir, "events")
    return funnel(ev, ["view", "click", "purchase"])


@register(
    "events_anomaly_zscore",
    oracle="""
    WITH c AS (
      SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M') AS window_start,
             event_type, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    t AS (
      SELECT window_start, event_type, n_events,
             avg(n_events) OVER w AS m,
             stddev_samp(CAST(n_events AS DOUBLE)) OVER w AS s,
             count(*) OVER w AS hist
      FROM c
      WINDOW w AS (PARTITION BY event_type ORDER BY window_start
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT window_start, event_type, n_events,
           round(m, 6) AS mean_trail, round(s, 6) AS std_trail,
           round(CASE WHEN hist >= 6 AND s IS NOT NULL AND s <> 0
                 THEN (n_events - m) / s END, 6) AS zscore
    FROM t
    """,
)
def events_anomaly_zscore(spark, sf_dir):
    """Hourly per-type volume anomaly z-scores
    (temporal.py:anomaly_zscore): trailing-24-observed-windows mean/std
    over the REDUCED count series, NULL until 6 windows of history or
    on a constant baseline. The oracle replays the lag window verbatim."""
    from cm_well_spark.operators.temporal import anomaly_zscore
    from cm_well_spark.sources import tables as tbl

    return anomaly_zscore(tbl.load_table(spark, sf_dir, "events"))


@register(
    "agg_quantiles_approx",
    oracle="""
    WITH tok AS (
      SELECT lang,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
      FROM documents
    ),
    ranked AS (
      SELECT lang, n_tok,
             row_number() OVER (PARTITION BY lang ORDER BY n_tok) AS rk,
             count(*) OVER (PARTITION BY lang) AS n
      FROM tok
    ),
    ps AS (SELECT CAST(unnest([0.1, 0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS p)
    SELECT r.lang, p.p, round(CAST(r.n_tok AS DOUBLE), 6) AS q
    FROM ranked r JOIN ps p ON r.rk = CAST(ceil(p.p * r.n) AS BIGINT)
    """,
)
def agg_quantiles_approx(spark, sf_dir):
    """Greenwald-Khanna approximate per-language word-count quantiles
    (sketches.py:quantile_sketch) — the one-pass bounded-memory
    complement of curation_score_quantiles (exact, sort-based).
    Promoted to hash-matched (VERDICT r9 item 4): at oracle scale every
    stratum (64-218 docs) is far below accuracy=10,000 = 1/eps, so the
    GK summary retains EVERY sample and the sketch answer IS the exact
    rank statistic — Spark's definition is the value at 1-based rank
    ceil(p*n) ('smallest value such that no more than p*n values are
    less than it'), which the oracle replays with a window rank cut.
    At bench/100 TB scale the same code path is genuinely approximate;
    the rank-error contract stays pytest-pinned against the exact
    quantiles (tests/test_pipeline_ops.py)."""
    from cm_well_spark.operators.sketches import quantile_sketch
    from cm_well_spark.operators.text import whitespace_token_count
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    return quantile_sketch(docs, whitespace_token_count(F.col("text")), by="lang")


@register(
    "dedup_knn_components",
    oracle=lambda sf_dir: f"""
    WITH twin(vec_id, cluster) AS (VALUES {_twin("knn_cluster_values", sf_dir)})
    SELECT e.vec_id, CAST(t.cluster AS BIGINT) AS cluster
    FROM embeddings e JOIN twin t USING (vec_id)
    """,
)
def dedup_knn_components(spark, sf_dir):
    """Graph-route semantic dedup (similarity.py:semantic_knn_clusters):
    SRP-bucketed kNN graph -> cosine >= 0.3 edges -> star-contraction
    connected components -> total (vec_id, cluster) partition with
    min-id labels. The oracle is an INDEPENDENT pure-Python twin
    (oracle_twins.py: dict-bucketed brute-force kNN +
    union-find-by-min) joined against the embeddings table's ids, so
    the hash compare covers bucketing, the top-k cut, the threshold,
    AND the component fixpoint."""
    from cm_well_spark.operators.similarity import semantic_knn_clusters
    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    return semantic_knn_clusters(embs, threshold=0.3, k=3)


@register(
    "events_cohort_retention",
    oracle="""
    WITH f AS (SELECT user_id, min(ts) AS ft FROM events GROUP BY 1),
    c AS (
      SELECT user_id,
             time_bucket(INTERVAL 7 DAYS, ft, TIMESTAMP '1970-01-01') AS cstart
      FROM f
    ),
    t AS (
      SELECT e.user_id, c.cstart,
             time_bucket(INTERVAL 7 DAYS, e.ts, TIMESTAMP '1970-01-01') AS pstart
      FROM events e JOIN c USING (user_id)
    ),
    a AS (
      SELECT cstart, pstart, CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
      FROM t GROUP BY 1, 2
    ),
    s AS (SELECT cstart, count(*) AS sz FROM c GROUP BY 1)
    SELECT strftime(a.cstart, '%Y-%m-%d') AS cohort,
           CAST(floor(date_diff('second', a.cstart, a.pstart) / 604800) AS BIGINT)
             AS period_offset,
           n_active,
           round(n_active / CAST(s.sz AS DOUBLE), 6) AS retention
    FROM a JOIN s USING (cstart)
    """,
)
def events_cohort_retention(spark, sf_dir):
    """Weekly cohort retention matrix (temporal.py:cohort_retention):
    users keyed by first-event week, distinct-active counts per later
    week, fraction against the cohort size. Three keyed aggregates +
    two joins; Spark's epoch-aligned tumbling windows are replayed by
    time_bucket with an explicit 1970-01-01 origin (DuckDB's default
    week origin is Monday-aligned — the one alignment trap in the
    pair)."""
    from cm_well_spark.operators.temporal import cohort_retention
    from cm_well_spark.sources import tables as tbl

    return cohort_retention(tbl.load_table(spark, sf_dir, "events"), period="7 days")


@register(
    "graph_link_prediction",
    oracle=_OP_EDGE_SQL
    + """,
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM e WHERE src <> dst
    ),
    sym AS (SELECT a AS node, b AS nbr FROM und UNION ALL SELECT b, a FROM und),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1),
    adj AS (SELECT s.node AS apex, s.nbr, d.d AS adeg
            FROM sym s JOIN deg d USING (node)),
    sc AS (
      SELECT x.nbr AS a, y.nbr AS b,
             CAST(count(*) AS BIGINT) AS common_neighbors,
             sum(1.0 / ln(x.adeg)) AS aa
      FROM adj x JOIN adj y ON x.apex = y.apex AND x.nbr < y.nbr
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT sc.* FROM sc LEFT JOIN und USING (a, b) WHERE und.a IS NULL
    )
    SELECT c.a, c.b, c.common_neighbors,
           round(c.aa, 6) AS adamic_adar,
           round(c.common_neighbors
                 / CAST(da.d + db.d - c.common_neighbors AS DOUBLE), 6) AS jaccard
    FROM cand c JOIN deg da ON c.a = da.node JOIN deg db ON c.b = db.node
    """,
)
def graph_link_prediction(spark, sf_dir):
    """Adamic-Adar / common-neighbor / Jaccard link prediction
    (graph.py:link_prediction) over the order—part co-occurrence graph:
    every non-adjacent pair sharing an order or part, ranked by who
    they share — "missing link" inference over the same edges the
    CC/k-core entries walk. The oracle independently re-derives the
    wedge enumeration, the left-anti drop of existing edges, and both
    score formulas from lineitem, so the hash compare covers the whole
    scoring pipeline, not just the output shape."""
    from cm_well_spark.operators.graph import link_prediction

    return link_prediction(_op_edges(spark, sf_dir))


@register(
    "events_markov_transitions",
    oracle="""
    WITH s AS (
      SELECT event_type AS prev_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    c AS (
      SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
      FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           round(n / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6)
             AS prob
    FROM c
    """,
)
def events_markov_transitions(spark, sf_dir):
    """First-order next-event transition matrix
    (temporal.py:markov_transitions): per-user time-ordered lead()
    pairs reduced to |types|^2 rows with row-normalized conditional
    probabilities. The oracle replays the same event-id tie-broken
    chain, so the hash compare covers the sequencing, not just the
    marginals."""
    from cm_well_spark.operators.temporal import markov_transitions
    from cm_well_spark.sources import tables as tbl

    return markov_transitions(tbl.load_table(spark, sf_dir, "events"))


@register(
    "events_rolling_trail",
    oracle="""
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           CAST(count(*) OVER w AS BIGINT) AS n_trail,
           round(sum(value) OVER w, 6) AS sum_trail
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def events_rolling_trail(spark, sf_dir):
    """Per-event trailing 1-hour count/value-sum within the user's
    stream (temporal.py:rolling_window_agg): ONE microsecond-epoch
    range-frame window keyed by user — exact rolling rate features with
    no tumbling-grid approximation and no self-join. Range frames are
    value-defined, so same-instant ties share a frame and the result is
    deterministic; the oracle's INTERVAL range window is the same
    frame."""
    from cm_well_spark.operators.temporal import rolling_window_agg
    from cm_well_spark.sources import tables as tbl

    return rolling_window_agg(tbl.load_table(spark, sf_dir, "events"), span="1 hour")


@register(
    "agg_rollup_orders",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 6) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def agg_rollup_orders(spark, sf_dir):
    """Hierarchical priority -> status subtotal rollup with grand total
    (aggregations.py:rollup_metrics): ONE Expand + ONE hash aggregate
    produce every drill-down level in a single scan/shuffle; gid is the
    grouping_id bitmask both engines define identically (first dim =
    most significant bit)."""
    from cm_well_spark.operators.aggregations import rollup_metrics
    from cm_well_spark.sources import tables as tbl

    return rollup_metrics(
        tbl.load_table(spark, sf_dir, "orders"),
        ["o_orderpriority", "o_orderstatus"],
        "o_totalprice",
    )


@register(
    "agg_pivot_status",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f,
           CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_o,
           CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_p
    FROM orders GROUP BY 1
    """,
)
def agg_pivot_status(spark, sf_dir):
    """Priority-by-status cross-tab (aggregations.py:pivot_counts):
    pivot with an EXPLICIT value list compiles to one hash aggregate of
    conditional counts — no distinct-value pre-scan job, no second
    pass; the oracle is the FILTER form of the same contingency
    table."""
    from cm_well_spark.operators.aggregations import pivot_counts
    from cm_well_spark.sources import tables as tbl

    return pivot_counts(
        tbl.load_table(spark, sf_dir, "orders"),
        "o_orderpriority",
        "o_orderstatus",
        ["F", "O", "P"],
    )


@register(
    "er_fuzzy_name_pairs",
    oracle="""
    WITH v AS (SELECT DISTINCT c_name AS w FROM customer WHERE length(c_name) >= 2)
    SELECT a.w AS a, b.w AS b, CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist
    FROM v a JOIN v b ON a.w < b.w
      AND abs(length(a.w) - length(b.w)) <= 1
    WHERE levenshtein(a.w, b.w) <= 1
    """,
)
def er_fuzzy_name_pairs(spark, sf_dir):
    """Edit-distance<=1 similarity self-join over customer names
    (fuzzy.py:edit_distance_pairs, FastSS/SymSpell deletion-neighborhood
    blocking): the entity-resolution blocker — every name pair one typo
    apart, found with ONE variant equi-join + built-in levenshtein
    verify, never an all-pairs comparison. The oracle IS the all-pairs
    comparison (with only the length band), so the hash match proves
    the deletion neighborhood dropped no pair."""
    from cm_well_spark.operators.fuzzy import edit_distance_pairs
    from cm_well_spark.sources import tables as tbl

    names = tbl.load_table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("w")
    )
    return edit_distance_pairs(names, max_dist=1)


@register(
    "events_ohlc_daily",
    oracle="""
    SELECT event_type,
           strftime(time_bucket(INTERVAL 1 DAY, ts), '%Y-%m-%d %H:%M') AS bucket,
           round(arg_min(value, printf('%020d|%020d', epoch_us(ts) + (1::BIGINT << 62), event_id + (1::BIGINT << 62))), 6) AS open,
           round(max(value), 6) AS high,
           round(min(value), 6) AS low,
           round(arg_max(value, printf('%020d|%020d', epoch_us(ts) + (1::BIGINT << 62), event_id + (1::BIGINT << 62))), 6) AS close,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
    """,
)
def events_ohlc_daily(spark, sf_dir):
    """Daily per-type OHLC downsampling (temporal.py:ohlc_downsample):
    ONE map-side-combinable groupBy — open/close via min_by/max_by over
    a zero-padded (epoch-micros, event_id) composite order key, so ties
    are deterministic and the oracle's arg_min/arg_max replay the same
    key."""
    from cm_well_spark.operators.temporal import ohlc_downsample
    from cm_well_spark.sources import tables as tbl

    return ohlc_downsample(tbl.load_table(spark, sf_dir, "events"), window="1 day")


@register(
    "agg_association_rules",
    oracle="""
    WITH m AS (SELECT DISTINCT l_orderkey AS bkt, l_partkey AS item FROM lineitem),
    p AS (
      SELECT x.item AS a, y.item AS b, CAST(count(*) AS BIGINT) AS support_count
      FROM m x JOIN m y ON x.bkt = y.bkt AND x.item < y.item
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    i AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM m GROUP BY 1),
    t AS (SELECT count(DISTINCT bkt) AS total FROM m)
    SELECT a, b, support_count,
           round(support_count / CAST(ia.n AS DOUBLE), 6) AS confidence_ab,
           round(support_count / CAST(ib.n AS DOUBLE), 6) AS confidence_ba,
           round(support_count * t.total / CAST(ia.n * ib.n AS DOUBLE), 6) AS lift
    FROM p JOIN i ia ON p.a = ia.item JOIN i ib ON p.b = ib.item, t
    """,
)
def agg_association_rules(spark, sf_dir):
    """Pairwise market-basket rules over order baskets
    (aggregations.py:association_rules): parts co-ordered at least
    twice, with both conditional confidences and lift — pair
    enumeration is ONE basket-keyed self-join (work bounded by basket
    size squared), stats are keyed aggregates, the basket total is a
    one-row broadcast. The oracle replays enumeration, pruning, and all
    three ratios."""
    from cm_well_spark.operators.aggregations import association_rules
    from cm_well_spark.sources import tables as tbl

    li = tbl.load_table(spark, sf_dir, "lineitem")
    return association_rules(li, "l_orderkey", "l_partkey", min_pair_count=2)


@register(
    "agg_rfm_segments",
    oracle="""
    WITH per AS (
      SELECT o_custkey, max(o_orderdate) AS last,
             CAST(count(*) AS BIGINT) AS frequency,
             round(sum(o_totalprice), 6) AS monetary
      FROM orders GROUP BY 1
    ),
    ref AS (SELECT max(o_orderdate) AS ref FROM orders),
    d AS (
      SELECT o_custkey,
             CAST(floor(date_diff('second', last, ref) / 86400) AS BIGINT)
               AS recency_days,
             frequency, monetary
      FROM per, ref
    )
    SELECT o_custkey, recency_days, frequency, monetary,
           CAST(ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS BIGINT) AS r,
           CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS BIGINT) AS f,
           CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey ASC) AS BIGINT) AS m
    FROM d
    """,
)
def agg_rfm_segments(spark, sf_dir):
    """RFM customer segmentation (aggregations.py:rfm_segments): one
    keyed aggregate reduces orders to a per-customer row; three ntile
    windows over the REDUCED relation assign 1..5 scores best-first
    with the key as tiebreak — ntile's equal-buckets-remainder-first
    split agrees across engines given a total order, so the whole grid
    hash-matches."""
    from cm_well_spark.operators.aggregations import rfm_segments
    from cm_well_spark.sources import tables as tbl

    return rfm_segments(tbl.load_table(spark, sf_dir, "orders"), n_bins=5)


@register(
    "temporal_scd2_orders",
    oracle="""
    SELECT o_orderkey, o_custkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           strftime(lead(o_orderdate) OVER w, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
           CAST(row_number() OVER w AS BIGINT) AS version_seq,
           (lead(o_orderdate) OVER w) IS NULL AS is_last
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def temporal_scd2_orders(spark, sf_dir):
    """SCD-type-2 validity intervals (temporal.py:scd2_intervals) over
    each customer's order sequence — every row gains [valid_from,
    valid_to) with the open current version NULL-terminated, the
    interval-table export that point-in-time queries and the S5
    with-history read consume. ONE lead window per key, tie-broken on
    the order key; no history self-join."""
    from cm_well_spark.operators.temporal import scd2_intervals
    from cm_well_spark.sources import tables as tbl

    o = tbl.load_table(spark, sf_dir, "orders")
    return scd2_intervals(
        o, key_col="o_custkey", ts_col="o_orderdate", tiebreak_col="o_orderkey"
    ).select("o_orderkey", "o_custkey", "valid_from", "valid_to", "version_seq", "is_last")


@register(
    "events_survival_curve",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS st FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ),
    p2 AS (
      SELECT s.user_id, s.st, min(CASE WHEN e.ts > s.st THEN e.ts END) AS pt
      FROM s LEFT JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'purchase'
      GROUP BY 1, 2
    ),
    r AS (SELECT max(ts) AS ref FROM events),
    d AS (
      SELECT CAST(floor(date_diff('microsecond', st, coalesce(pt, ref))
                        / 1000000.0) AS BIGINT) AS duration,
             (pt IS NOT NULL) AS obs
      FROM p2, r
    ),
    g AS (
      SELECT duration,
             CAST(count(*) FILTER (obs) AS BIGINT) AS n_events,
             CAST(count(*) FILTER (NOT obs) AS BIGINT) AS n_censored
      FROM d GROUP BY 1
    ),
    k AS (
      SELECT *,
             CAST(sum(n_events + n_censored) OVER ()
                  - coalesce(sum(n_events + n_censored) OVER (
                      ORDER BY duration
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_risk
      FROM g
    ),
    f AS (SELECT *, 1.0 - n_events / CAST(n_risk AS DOUBLE) AS factor FROM k)
    SELECT duration, n_risk, n_events, n_censored,
           round(CASE WHEN max(CASE WHEN factor <= 0 THEN 1 ELSE 0 END) OVER cw = 1
                 THEN 0
                 ELSE exp(sum(ln(CASE WHEN factor > 0 THEN factor END)) OVER cw)
                 END, 6) AS survival
    FROM f
    WINDOW cw AS (ORDER BY duration ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def events_survival_curve(spark, sf_dir):
    """Kaplan-Meier signup->purchase survival curve
    (temporal.py:kaplan_meier): per-user durations (first purchase
    STRICTLY after signup; never-converters right-censored at the
    corpus max timestamp), reduced to one row per distinct duration,
    then the at-risk/product windows over that bounded relation. The
    oracle replays the censoring, the lag-window denominator, and the
    zero-factor-guarded log-sum product."""
    from cm_well_spark.operators.temporal import kaplan_meier
    from cm_well_spark.sources import tables as tbl

    ev = tbl.load_table(spark, sf_dir, "events")
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("__st"))
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("__pts")
    )
    per = (
        s.join(p, "user_id", "left")
        .groupBy("user_id", "__st")
        .agg(F.min(F.when(F.col("__pts") > F.col("__st"), F.col("__pts"))).alias("__pt"))
    )
    ref = ev.agg(F.max("ts").alias("__ref"))
    d = per.crossJoin(F.broadcast(ref)).select(
        F.floor(
            (
                F.unix_micros(F.coalesce(F.col("__pt"), F.col("__ref")).cast("timestamp"))
                - F.unix_micros(F.col("__st").cast("timestamp"))
            )
            / 1_000_000.0
        )
        .cast("long")
        .alias("duration"),
        F.col("__pt").isNotNull().cast("int").alias("observed"),
    )
    return kaplan_meier(d)


@register(
    "curation_balanced_sample",
    oracle="""
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
    t AS (SELECT min(n) AS target FROM c),
    r AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('balance' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    )
    SELECT doc_id, lang FROM r, t WHERE rk <= t.target
    """,
)
def curation_balanced_sample(spark, sf_dir):
    """Perfect language balance (curation.py:balanced_sample): every
    class downsampled to the smallest class's size by salted-md5 rank —
    deterministic, so the oracle replays the exact subset. The literal
    rank filter lets InferWindowGroupLimit cap each map task's output
    per class before the shuffle."""
    from cm_well_spark.operators.curation import balanced_sample
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    return balanced_sample(docs, "lang", "doc_id").select("doc_id", "lang")


@register(
    "events_sessionize",
    oracle="""
    WITH s AS (
      SELECT event_id, user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    t AS (
      SELECT event_id, user_id, ts,
             CAST(sum(brk) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_seq
      FROM s
    )
    SELECT event_id, user_id, session_seq,
           strftime(min(ts) OVER (PARTITION BY user_id, session_seq),
                    '%Y-%m-%d %H:%M:%S.%f') AS session_start
    FROM t
    """,
)
def events_sessionize(spark, sf_dir):
    """Per-event gap sessionization (temporal.py:sessionize): lag-marked
    breaks and a running break-count, both riding ONE per-user sort;
    each row labeled with its session's start for downstream
    per-session work. 30-minute gap, strictly-greater break — the same
    contract as session_window. The oracle replays the break/cumsum
    chain."""
    from cm_well_spark.operators.temporal import sessionize
    from cm_well_spark.sources import tables as tbl

    return sessionize(tbl.load_table(spark, sf_dir, "events")).select(
        "event_id", "user_id", "session_seq", "session_start"
    )


@register(
    "curation_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT lang, percentile_cont(0.5) WITHIN GROUP (ORDER BY n_chars) AS median
      FROM documents GROUP BY 1
    ),
    d AS (
      SELECT doc_id, lang, n_chars, median,
             abs(n_chars - median) AS dev
      FROM documents JOIN med USING (lang)
    ),
    mad AS (
      SELECT lang, percentile_cont(0.5) WITHIN GROUP (ORDER BY dev) AS mad
      FROM d GROUP BY 1
    )
    SELECT doc_id, lang, n_chars,
           round(d.median, 6) AS median, round(mad.mad, 6) AS mad,
           round(CASE WHEN mad.mad <> 0
                 THEN 0.6745 * (n_chars - d.median) / mad.mad END, 6) AS robust_z,
           CASE WHEN mad.mad <> 0
                THEN abs(round(0.6745 * (n_chars - d.median) / mad.mad, 6)) > 3.5
                ELSE dev > 0 END AS is_outlier
    FROM d JOIN mad USING (lang)
    """,
)
def curation_mad_outliers(spark, sf_dir):
    """Robust per-language length outliers (curation.py:mad_outliers):
    modified z-score via median/MAD — two exact keyed percentiles and
    two broadcast joins of the |langs|-row stats, so one garbage doc
    cannot inflate its own yardstick the way mean/stddev lets it."""
    from cm_well_spark.operators.curation import mad_outliers
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    return mad_outliers(docs, "n_chars", by="lang").select(
        "doc_id", "lang", "n_chars", "median", "mad", "robust_z", "is_outlier"
    )


@register("graph_shortest_paths", oracle=_sp_weighted_oracle())
def graph_shortest_paths(spark, sf_dir):
    """Bounded weighted Bellman-Ford (graph.py:shortest_paths_weighted)
    over the order—part bipartite graph with l_quantity edge weights:
    min-plus relaxation, one equi-join + one keyed min per round, fixed
    4 rounds — so the oracle chains every round as a CTE and the hash
    compare covers the relaxation itself, not just the final frontier."""
    from cm_well_spark.operators.graph import shortest_paths_weighted
    from cm_well_spark.sources import tables as tbl

    li = tbl.load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 300)
    e = li.select(
        F.concat(F.lit("/tpch/orders/"), F.col("l_orderkey")).alias("src"),
        F.concat(F.lit("/tpch/part/"), F.col("l_partkey")).alias("dst"),
        F.col("l_quantity").cast("double").alias("weight"),
    )
    seeds = spark.createDataFrame(
        [("/tpch/orders/1",), ("/tpch/orders/2",)], ["path"]
    )
    return shortest_paths_weighted(e, seeds, rounds=4)


@register(
    "orders_period_growth",
    oracle="""
    WITH a AS (
      SELECT time_bucket(INTERVAL 30 DAYS, o_orderdate, TIMESTAMP '1970-01-01') AS p,
             round(sum(o_totalprice), 6) AS total,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    )
    SELECT strftime(p, '%Y-%m-%d') AS period_start, total, n,
           round(lag(total) OVER w, 6) AS prev_total,
           round(total - lag(total) OVER w, 6) AS delta,
           round(CASE WHEN lag(total) OVER w <> 0
                 THEN (total - lag(total) OVER w) / lag(total) OVER w END, 6)
             AS pct_change
    FROM a WINDOW w AS (ORDER BY p)
    """,
)
def orders_period_growth(spark, sf_dir):
    """30-day revenue trend with period-over-period deltas
    (temporal.py:period_growth): one windowed keyed aggregate reduces
    orders to the bounded period series; the lag window runs over that
    reduced relation. pct_change NULL for the first period and on a
    zero base."""
    from cm_well_spark.operators.temporal import period_growth
    from cm_well_spark.sources import tables as tbl

    return period_growth(
        tbl.load_table(spark, sf_dir, "orders"), "o_orderdate", "o_totalprice",
        period="30 days",
    )


@register(
    "events_interarrival",
    oracle="""
    WITH g AS (
      SELECT user_id,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
             / 1000000.0 AS gap
      FROM events
    ),
    a AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
             avg(gap) AS m, stddev_pop(gap) AS s
      FROM g WHERE gap IS NOT NULL GROUP BY 1
    )
    SELECT user_id, n_gaps,
           round(m, 6) AS mean_gap_s, round(s, 6) AS std_gap_s,
           round(CASE WHEN m <> 0 THEN s / m END, 6) AS cv,
           round(CASE WHEN s + m <> 0 THEN (s - m) / (s + m) END, 6) AS burstiness
    FROM a WHERE n_gaps >= 2
    """,
)
def events_interarrival(spark, sf_dir):
    """Per-user inter-arrival gap stats + Goh-Barabási burstiness
    (temporal.py:interarrival_stats): one per-user lag window emits
    gaps, one keyed aggregate reduces them — the bot-vs-human activity
    fingerprint. Population stddev (the gap list is the complete
    observed history); entities with <2 gaps drop."""
    from cm_well_spark.operators.temporal import interarrival_stats
    from cm_well_spark.sources import tables as tbl

    return interarrival_stats(tbl.load_table(spark, sf_dir, "events"))


@register(
    "agg_topk_per_group",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice, rank FROM (
      SELECT o_orderkey, o_orderpriority, o_totalprice,
             CAST(row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rank
      FROM orders
    ) WHERE rank <= 3
    """,
)
def agg_topk_per_group(spark, sf_dir):
    """Top-3 priciest orders per priority
    (aggregations.py:topk_per_group): row_number against a LITERAL k so
    InferWindowGroupLimit inserts the partial per-partition top-k below
    the shuffle — each map task forwards at most k rows per group. The
    order-key tiebreak makes the cut total-ordered, hence
    hash-replayable."""
    from cm_well_spark.operators.aggregations import topk_per_group
    from cm_well_spark.sources import tables as tbl

    return topk_per_group(
        tbl.load_table(spark, sf_dir, "orders"),
        ["o_orderpriority"], "o_totalprice", 3, tiebreak_cols=["o_orderkey"],
    ).select("o_orderkey", "o_orderpriority", "o_totalprice", "rank")


@register(
    "text_zipf_fit",
    oracle="""
    WITH w AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents
    ),
    v AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM w GROUP BY 1),
    xy AS (
      SELECT ln(CAST(row_number() OVER (ORDER BY f DESC, w ASC) AS DOUBLE)) AS x,
             ln(CAST(f AS DOUBLE)) AS y, f
      FROM v
    ),
    a AS (
      SELECT CAST(count(*) AS BIGINT) AS n_types, CAST(sum(f) AS BIGINT) AS n_tokens,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sxx, sum(y * y) AS syy
      FROM xy
    )
    SELECT n_types, n_tokens,
           round(CASE WHEN n_types * sxx - sx * sx <> 0
                 THEN (n_types * sxy - sx * sy) / (n_types * sxx - sx * sx) END, 6)
             AS zipf_slope,
           round(CASE WHEN n_types * sxx - sx * sx <> 0
                 THEN (sy - (n_types * sxy - sx * sy) / (n_types * sxx - sx * sx) * sx)
                      / n_types END, 6) AS intercept,
           round(CASE WHEN n_types * sxx - sx * sx <> 0
                      AND n_types * syy - sy * sy <> 0
                 THEN (n_types * sxy - sx * sy) * (n_types * sxy - sx * sy)
                      / ((n_types * sxx - sx * sx) * (n_types * syy - sy * sy)) END, 6)
             AS r2
    FROM a
    """,
)
def text_zipf_fit(spark, sf_dir):
    """Zipf rank-frequency regression over the corpus vocabulary
    (text.py:zipf_fit): closed-form least squares on (ln rank, ln freq)
    — natural text sits near slope -1; template floods bend it. The
    only global window orders the REDUCED vocabulary; the oracle
    replays ranking and all five regression sums."""
    from cm_well_spark.operators.text import zipf_fit
    from cm_well_spark.sources import tables as tbl

    return zipf_fit(tbl.load_table(spark, sf_dir, "documents"))


@register(
    "events_active_users",
    oracle="""
    WITH d AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS dd FROM events),
    c AS (
      SELECT u, dd,
             unnest(generate_series(dd, dd + INTERVAL 29 DAY, INTERVAL 1 DAY))::DATE
               AS target
      FROM d
    ),
    a AS (
      SELECT target AS day,
             count(DISTINCT CASE WHEN dd = target THEN u END) AS dau,
             count(DISTINCT CASE WHEN target < dd + INTERVAL 7 DAY THEN u END) AS wau,
             count(DISTINCT u) AS mau
      FROM c GROUP BY 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
           CAST(mau AS BIGINT) AS mau,
           round(dau / CAST(mau AS DOUBLE), 6) AS stickiness
    FROM a WHERE dau > 0
    """,
)
def events_active_users(spark, sf_dir):
    """DAU/WAU/MAU + stickiness (temporal.py:active_users): trailing
    distinct counts via CONTRIBUTION EXPLODE over the reduced
    (user, day) relation — a moving count_distinct is not a window
    function, and the day x day self-join alternative is quadratic; the
    explode is bounded at 30x the reduced relation. The oracle replays
    the same explode with generate_series."""
    from cm_well_spark.operators.temporal import active_users
    from cm_well_spark.sources import tables as tbl

    return active_users(tbl.load_table(spark, sf_dir, "events"))


@register(
    "events_session_paths",
    oracle="""
    WITH s AS (
      SELECT event_id, user_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    t AS (
      SELECT user_id, event_type, ts, event_id,
             sum(brk) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_seq
      FROM s
    ),
    p AS (
      SELECT user_id, session_seq,
             array_to_string(
               list_slice(list(event_type ORDER BY epoch_us(ts), event_id), 1, 20),
               ' > ') AS path
      FROM t GROUP BY 1, 2
    ),
    c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions FROM p GROUP BY 1)
    SELECT path, n_sessions, rank FROM (
      SELECT path, n_sessions,
             CAST(row_number() OVER (ORDER BY n_sessions DESC, path ASC) AS BIGINT)
               AS rank
      FROM c
    ) WHERE rank <= 10
    """,
)
def events_session_paths(spark, sf_dir):
    """Top-10 session journeys (temporal.py:session_paths): sessionize
    -> one per-session ordered aggregation (sort_array over collected
    (order-key, type) pairs, truncated at 20 steps so a crawler-trap
    session bounds task memory) -> keyed count -> literal top-k. The
    oracle replays the break/cumsum sessionization and the ordered
    list aggregation."""
    from cm_well_spark.operators.temporal import session_paths
    from cm_well_spark.sources import tables as tbl

    return session_paths(tbl.load_table(spark, sf_dir, "events"), k=10)


@register(
    "graph_personalized_pagerank",
    oracle=_LINK_EDGE_SQL
    + """
    , deg AS (SELECT src, count(*) AS odeg FROM edges GROUP BY 1),
    nodes AS (SELECT src AS path FROM edges UNION SELECT dst FROM edges),
    r0 AS (
      SELECT path,
             CASE WHEN path IN ('/tpch/customer/1', '/tpch/customer/2')
                  THEN CAST(0.5 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS rank
      FROM nodes
    ),
    r1 AS (__STEP1__),
    r2 AS (__STEP2__),
    r3 AS (__STEP3__)
    SELECT path, ROUND(rank, 6) AS rank FROM r3 WHERE rank > 0
    """.replace("__STEP1__", _PPR_STEP_SQL.format(prev="r0"))
    .replace("__STEP2__", _PPR_STEP_SQL.format(prev="r1"))
    .replace("__STEP3__", _PPR_STEP_SQL.format(prev="r2")),
)
def graph_personalized_pagerank(spark, sf_dir):
    """3-iteration personalized PageRank from a two-customer seed set
    (graph.py:personalized_pagerank): the teleport mass lands on the
    seeds only — split as (1-d)/|S| per seed so total mass stays 1 and
    scores are comparable across seed sets (ADVICE r9) — so rank =
    link-proximity to the trusted set, the seeded-curation weight. Same
    join+agg rounds as pagerank; the oracle chains every round with the
    seeded reset vector, and the support (rank > 0) is exactly the
    reachable set."""
    from cm_well_spark.operators.graph import DEFAULT_LINK_FIELDS, personalized_pagerank

    df = personalized_pagerank(
        _tri(spark, sf_dir), list(_PPR_SEEDS), DEFAULT_LINK_FIELDS, iterations=3
    )
    return df.select("path", F.round("rank", 6).alias("rank"))


@register(
    "graph_clustering_coefficient",
    oracle="""
    WITH raw AS (
      SELECT '/tpch/customer/' || c_custkey AS src,
             '/tpch/nation/' || c_nationkey AS dst FROM customer
      UNION ALL
      SELECT '/tpch/supplier/' || s_suppkey, '/tpch/nation/' || s_nationkey FROM supplier
      UNION ALL
      SELECT '/tpch/nation/' || n_nationkey, '/tpch/region/' || n_regionkey FROM nation
      UNION ALL
      SELECT '/tpch/customer/' || c_custkey, '/tpch/region/' || n_regionkey
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      UNION ALL
      SELECT '/tpch/supplier/' || s_suppkey, '/tpch/region/' || n_regionkey
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
    ),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
      JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    corners AS (
      SELECT n, CAST(count(*) AS BIGINT) AS t FROM (
        SELECT x AS n FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
      ) GROUP BY 1
    ),
    deg AS (
      SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT a AS n FROM und UNION ALL SELECT b FROM und
      ) GROUP BY 1
    )
    SELECT deg.n AS path, deg.d AS degree,
           coalesce(corners.t, 0) AS n_triangles,
           round(CASE WHEN deg.d >= 2
                 THEN 2.0 * coalesce(corners.t, 0) / (deg.d * (deg.d - 1.0))
                 ELSE 0.0 END, 6) AS clustering
    FROM deg LEFT JOIN corners ON deg.n = corners.n
    """,
)
def graph_clustering_coefficient(spark, sf_dir):
    """Local clustering coefficient over the membership-closure graph
    (graph.py:clustering_coefficient — the graph_triangles edges, where
    x->nation->region closures create real triangles): per-node
    triangle participation vs neighborhood pair count, the link-farm /
    community-density feature. Same compact-forward wedge enumeration
    as the count, keeping all three corners; the oracle recounts with
    the orientation-free a<b<c join and replays the 2T/d(d-1)
    formula."""
    from cm_well_spark.operators.graph import clustering_coefficient, reference_edges

    tri = _tri(spark, sf_dir)
    xn = reference_edges(tri, ["inNation"])
    nr = reference_edges(tri, ["ofRegion"])
    xr = xn.alias("l").join(
        nr.alias("r"), F.col("l.dst") == F.col("r.src")
    ).select(F.col("l.src").alias("src"), F.col("r.dst").alias("dst"))
    edges = xn.unionByName(nr).unionByName(xr)
    return clustering_coefficient(edges)


@register(
    "events_funnel_windowed",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS x1 FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT s1.user_id, s1.x1,
             min(CASE WHEN e.ts > s1.x1
                       AND epoch_us(e.ts) <= epoch_us(s1.x1) + 86400000000
                      THEN e.ts END) AS x2
      FROM s1 LEFT JOIN events e
        ON e.user_id = s1.user_id AND e.event_type = 'click'
      GROUP BY 1, 2
    ),
    s3 AS (
      SELECT s2.user_id, s2.x1, s2.x2,
             min(CASE WHEN e.ts > s2.x2
                       AND epoch_us(e.ts) <= epoch_us(s2.x2) + 86400000000
                      THEN e.ts END) AS x3
      FROM s2 LEFT JOIN events e
        ON e.user_id = s2.user_id AND e.event_type = 'purchase'
      GROUP BY 1, 2, 3
    )
    SELECT user_id,
           strftime(x1, '%Y-%m-%d %H:%M:%S.%f') AS t1,
           strftime(x2, '%Y-%m-%d %H:%M:%S.%f') AS t2,
           strftime(x3, '%Y-%m-%d %H:%M:%S.%f') AS t3,
           CAST((x1 IS NOT NULL)::INT + (x2 IS NOT NULL)::INT
                + (x3 IS NOT NULL)::INT AS INT) AS depth
    FROM s3
    """,
)
def events_funnel_windowed(spark, sf_dir):
    """Time-boxed conversion funnel (temporal.py:funnel with
    within_seconds=86400): each transition must land within 24h of the
    previous step — the product-analytics default, where a purchase
    weeks after the click is not conversion. Same keyed conditional-min
    plan as events_funnel, one extra comparison per transition."""
    from cm_well_spark.operators.temporal import funnel
    from cm_well_spark.sources import tables as tbl

    ev = tbl.load_table(spark, sf_dir, "events")
    return funnel(ev, ["view", "click", "purchase"], within_seconds=86400)


@register(
    "er_name_clusters",
    oracle=lambda sf_dir: f"""
    WITH twin(w, cluster) AS (VALUES {_twin("fuzzy_cluster_values", sf_dir)}),
    v AS (SELECT DISTINCT p_name AS w FROM part WHERE length(p_name) >= 2),
    j AS (SELECT v.w, t.cluster FROM v JOIN twin t USING (w)),
    s AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size FROM j GROUP BY 1)
    SELECT j.w, j.cluster, s.cluster_size FROM j JOIN s USING (cluster)
    """,
)
def er_name_clusters(spark, sf_dir):
    """Typo/variant canonicalization over part names
    (fuzzy.py:fuzzy_clusters, edit distance <= 2): deletion-
    neighborhood pairs -> star-contraction connected components ->
    min-name cluster labels, singletons kept — the ER normalization
    table. The oracle is an INDEPENDENT pure-Python twin
    (oracle_twins.py: brute-force banded DP + union-find-by-min)
    joined against the name set recomputed in SQL, with cluster sizes
    derived in SQL — so lost names, wrong components, AND wrong sizes
    all break the hash."""
    from cm_well_spark.operators.fuzzy import fuzzy_clusters
    from cm_well_spark.sources import tables as tbl

    names = tbl.load_table(spark, sf_dir, "part").select(F.col("p_name").alias("w"))
    return fuzzy_clusters(names, max_dist=2)


@register(
    "agg_abc_analysis",
    oracle="""
    WITH per AS (
      SELECT '/tpch/part/' || l_partkey AS key,
             round(sum(l_extendedprice), 6) AS total
      FROM lineitem GROUP BY 1
    ),
    g AS (SELECT sum(total) AS grand FROM per),
    c AS (
      SELECT key, total,
             coalesce(sum(total) OVER (ORDER BY total DESC, key ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_
      FROM per
    )
    SELECT key, total,
           round((before_ + total) / g.grand, 6) AS cum_share,
           CASE WHEN before_ / g.grand < 0.8 THEN 'A'
                WHEN before_ / g.grand < 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c, g
    """,
)
def agg_abc_analysis(spark, sf_dir):
    """Pareto/ABC revenue concentration per part
    (aggregations.py:abc_analysis): one keyed aggregate to per-entity
    totals, running share over the REDUCED relation, before-the-row
    class boundaries — which parts carry 80/95% of extended price. The
    oracle replays the prefix window and both cuts."""
    from cm_well_spark.operators.aggregations import abc_analysis
    from cm_well_spark.sources import tables as tbl

    li = tbl.load_table(spark, sf_dir, "lineitem").select(
        F.concat(F.lit("/tpch/part/"), F.col("l_partkey")).alias("key"),
        F.col("l_extendedprice"),
    )
    return abc_analysis(li, "key", "l_extendedprice")


@register(
    "curation_winsorize",
    oracle="""
    WITH p AS (
      SELECT lang,
             round(quantile_cont(n_chars, 0.01), 6) AS p_lo,
             round(quantile_cont(n_chars, 0.99), 6) AS p_hi
      FROM documents GROUP BY 1
    )
    SELECT doc_id, d.lang, n_chars, p.p_lo, p.p_hi,
           round(least(greatest(CAST(n_chars AS DOUBLE), p.p_lo), p.p_hi), 6)
             AS n_chars_winsorized
    FROM documents d JOIN p USING (lang)
    """,
)
def curation_winsorize(spark, sf_dir):
    """Per-language 1%/99% winsorization of document lengths
    (curation.py:winsorize): both exact percentile bounds in ONE keyed
    aggregate, broadcast back, values clamped not dropped — the
    tail-taming twin of curation_mad_outliers."""
    from cm_well_spark.operators.curation import winsorize
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    return winsorize(docs, "n_chars", by="lang").select(
        "doc_id", "lang", "n_chars", "p_lo", "p_hi", "n_chars_winsorized"
    )


@register(
    "events_anomaly_seasonal",
    oracle="""
    WITH c AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    t AS (
      SELECT ws, event_type, n_events,
             avg(n_events) OVER w AS m,
             stddev_samp(CAST(n_events AS DOUBLE)) OVER w AS s,
             count(*) OVER w AS hist
      FROM c
      WINDOW w AS (PARTITION BY event_type, strftime(ws, '%H:%M')
                   ORDER BY ws ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M') AS window_start, event_type, n_events,
           round(m, 6) AS mean_seasonal, round(s, 6) AS std_seasonal,
           round(CASE WHEN hist >= 3 AND s IS NOT NULL AND s <> 0
                 THEN (n_events - m) / s END, 6) AS zscore
    FROM t
    """,
)
def events_anomaly_seasonal(spark, sf_dir):
    """Seasonality-aware volume anomaly (temporal.py:anomaly_seasonal):
    each hourly count baselines against the SAME clock slot of previous
    days, so daily rhythm stops reading as anomaly — identical plan to
    anomaly_zscore with a finer (type, slot) window key. The oracle
    replays the slot partitioning."""
    from cm_well_spark.operators.temporal import anomaly_seasonal
    from cm_well_spark.sources import tables as tbl

    return anomaly_seasonal(tbl.load_table(spark, sf_dir, "events"))


@register(
    "quality_fk_audit",
    oracle="""
    WITH ck AS (SELECT l_orderkey AS k FROM lineitem),
    pk AS (SELECT DISTINCT o_orderkey AS k FROM orders),
    ckd AS (SELECT DISTINCT k FROM ck)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_children,
           (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_parents,
           (SELECT CAST(count(*) AS BIGINT) FROM ck LEFT JOIN pk USING (k)
             WHERE pk.k IS NULL) AS n_orphan_children,
           (SELECT CAST(count(*) AS BIGINT) FROM pk LEFT JOIN ckd USING (k)
             WHERE ckd.k IS NULL) AS n_childless_parents,
           round((SELECT count(*) FROM ck LEFT JOIN pk USING (k) WHERE pk.k IS NULL)
                 / CAST((SELECT count(*) FROM lineitem) AS DOUBLE), 6) AS orphan_frac
    """,
)
def quality_fk_audit(spark, sf_dir):
    """Referential-integrity audit of lineitem -> orders
    (curation.py:fk_audit): orphan children and childless parents via
    two anti-joins over distinct key relations — the relational twin of
    the W7 infoton audit, for containment contracts like chunk -> doc
    and event -> user."""
    from cm_well_spark.operators.curation import fk_audit
    from cm_well_spark.sources import tables as tbl

    return fk_audit(
        tbl.load_table(spark, sf_dir, "lineitem"),
        tbl.load_table(spark, sf_dir, "orders"),
        "l_orderkey",
        "o_orderkey",
    )


@register(
    "graph_degree_distribution",
    oracle=_OP_EDGE_SQL
    + """,
    sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1),
    hist AS (SELECT d, CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY 1),
    st AS (SELECT sum(n_nodes) AS n, min(d) AS dmin FROM hist),
    al AS (
      SELECT 1.0 + sum(n_nodes) / sum(n_nodes * ln(d / (st.dmin - 0.5))) AS alpha
      FROM hist, st
    )
    SELECT d AS degree, n_nodes,
           round(n_nodes / CAST(st.n AS DOUBLE), 6) AS frac,
           round(al.alpha, 6) AS alpha
    FROM hist, st, al
    """,
)
def graph_degree_distribution(spark, sf_dir):
    """Degree histogram + Clauset-Shalizi-Newman discrete power-law MLE
    over the order—part co-occurrence graph
    (graph.py:degree_distribution): one keyed count to degrees, one
    more to the histogram, alpha folded over the REDUCED histogram —
    the graph-health twin of text_zipf_fit."""
    from cm_well_spark.operators.graph import degree_distribution

    return degree_distribution(_op_edges(spark, sf_dir))


@register(
    "eval_langid_report",
    oracle=_LANGID_PRED_SQL
    + """,
    cm AS (SELECT label, pred, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2),
    bl AS (SELECT label AS cls, CAST(sum(n) AS BIGINT) AS support FROM cm GROUP BY 1),
    bp AS (SELECT pred AS cls, CAST(sum(n) AS BIGINT) AS predicted FROM cm GROUP BY 1),
    tp AS (SELECT label AS cls, n AS tp FROM cm WHERE label = pred),
    cl AS (
      SELECT coalesce(bl.cls, bp.cls) AS cls,
             coalesce(support, 0) AS support, coalesce(predicted, 0) AS predicted
      FROM bl FULL OUTER JOIN bp ON bl.cls = bp.cls
    ),
    m AS (
      SELECT cl.cls, CAST(coalesce(tp.tp, 0) AS BIGINT) AS tp,
             CAST(predicted - coalesce(tp.tp, 0) AS BIGINT) AS fp,
             CAST(support - coalesce(tp.tp, 0) AS BIGINT) AS fn,
             CASE WHEN predicted > 0 THEN coalesce(tp.tp, 0) / CAST(predicted AS DOUBLE) END AS pr,
             CASE WHEN support > 0 THEN coalesce(tp.tp, 0) / CAST(support AS DOUBLE) END AS rc
      FROM cl LEFT JOIN tp ON cl.cls = tp.cls
    )
    SELECT cls, tp, fp, fn, round(pr, 6) AS precision, round(rc, 6) AS recall,
           round(CASE WHEN pr IS NOT NULL AND rc IS NOT NULL AND pr + rc > 0
                 THEN 2 * pr * rc / (pr + rc) END, 6) AS f1
    FROM m
    """,
)
def eval_langid_report(spark, sf_dir):
    """Per-class precision/recall/F1 of the marker-word language
    classifier against gold labels (evaluation.py:classification_report
    over text.lang_id): everything reduces to the confusion relation
    first; classes are the UNION of labels and predictions so 'und'
    (never a gold label) still reports precision. The oracle replays
    classifier AND metrics."""
    from cm_well_spark.operators.evaluation import classification_report
    from cm_well_spark.operators.text import lang_id
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    preds = lang_id(docs).join(docs.select("doc_id", "lang"), "doc_id")
    return classification_report(preds, "lang", "lang_pred")


@register(
    "eval_langid_confusion",
    oracle=_LANGID_PRED_SQL
    + """
    SELECT label, pred, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2
    """,
)
def eval_langid_confusion(spark, sf_dir):
    """Raw confusion matrix of lang_id vs gold labels
    (evaluation.py:confusion_matrix): ONE keyed count reduces the
    corpus to |labels| x |preds| rows."""
    from cm_well_spark.operators.evaluation import confusion_matrix
    from cm_well_spark.operators.text import lang_id
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    preds = lang_id(docs).join(docs.select("doc_id", "lang"), "doc_id")
    return confusion_matrix(preds, "lang", "lang_pred")


@register(
    "events_asof_next_order",
    oracle="""
    WITH e1 AS (
      SELECT user_id, ts,
             max(event_id) AS event_id,
             round(max_by(value, event_id), 6) AS ev_value
      FROM events GROUP BY 1, 2
    )
    SELECT o.o_orderkey, e1.event_id, e1.ev_value
    FROM orders o ASOF JOIN e1
      ON o.o_custkey = e1.user_id AND o.o_orderdate <= e1.ts
    """,
)
def events_asof_next_order(spark, sf_dir):
    """FORWARD as-of join (temporal.py:asof_join direction='forward'):
    every order gets the issuing user's NEXT event at-or-after the
    order date — the scheduling/deadline direction the backward join
    can't express. Same union + running-last plan over the reversed
    order; DuckDB's native forward ASOF (<=) is the independent
    oracle. Right side pre-aggregated per (user, ts) so tie-breaks are
    engine-independent."""
    from cm_well_spark.operators.temporal import asof_join
    from cm_well_spark.sources import tables as tbl

    orders = tbl.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", F.col("o_custkey").alias("user_id")
    )
    events = (
        tbl.load_table(spark, sf_dir, "events")
        .groupBy("user_id", "ts")
        .agg(F.max(F.struct("event_id", "value")).alias("__top"))
        .select(
            "user_id",
            "ts",
            F.col("__top.event_id").alias("event_id"),
            F.round("__top.value", 6).alias("ev_value"),
        )
    )
    out = asof_join(
        orders, events, on="user_id", left_ts="o_orderdate", right_ts="ts",
        right_cols=["event_id", "ev_value"], direction="forward",
    )
    return out.select("o_orderkey", "event_id", "ev_value")


@register(
    "events_funnel_rates",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS x1 FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT s1.user_id, s1.x1,
             min(CASE WHEN e.ts > s1.x1 THEN e.ts END) AS x2
      FROM s1 LEFT JOIN events e
        ON e.user_id = s1.user_id AND e.event_type = 'click'
      GROUP BY 1, 2
    ),
    s3 AS (
      SELECT s2.user_id, s2.x1, s2.x2,
             min(CASE WHEN e.ts > s2.x2 THEN e.ts END) AS x3
      FROM s2 LEFT JOIN events e
        ON e.user_id = s2.user_id AND e.event_type = 'purchase'
      GROUP BY 1, 2, 3
    ),
    d AS (
      SELECT (x1 IS NOT NULL)::INT + (x2 IS NOT NULL)::INT + (x3 IS NOT NULL)::INT
               AS depth
      FROM s3
    ),
    n AS (
      SELECT CAST(count(*) FILTER (depth >= 1) AS BIGINT) AS n1,
             CAST(count(*) FILTER (depth >= 2) AS BIGINT) AS n2,
             CAST(count(*) FILTER (depth >= 3) AS BIGINT) AS n3
      FROM d
    )
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS step, n1 AS n_reached,
             round(CASE WHEN n1 > 0 THEN n1 / CAST(n1 AS DOUBLE) END, 6) AS conv_from_prev,
             round(CASE WHEN n1 > 0 THEN n1 / CAST(n1 AS DOUBLE) END, 6) AS conv_from_first
      FROM n
      UNION ALL
      SELECT 2, n2, round(CASE WHEN n1 > 0 THEN n2 / CAST(n1 AS DOUBLE) END, 6),
             round(CASE WHEN n1 > 0 THEN n2 / CAST(n1 AS DOUBLE) END, 6) FROM n
      UNION ALL
      SELECT 3, n3, round(CASE WHEN n2 > 0 THEN n3 / CAST(n2 AS DOUBLE) END, 6),
             round(CASE WHEN n1 > 0 THEN n3 / CAST(n1 AS DOUBLE) END, 6) FROM n
    )
    """,
)
def events_funnel_rates(spark, sf_dir):
    """Step-conversion rollup of the view->click->purchase funnel
    (temporal.py:funnel_rates over temporal.funnel): ONE aggregate pass
    over the per-user funnel relation computes every step's reach;
    rates unfold from that single row. The oracle replays funnel AND
    rollup."""
    from cm_well_spark.operators.temporal import funnel, funnel_rates
    from cm_well_spark.sources import tables as tbl

    ev = tbl.load_table(spark, sf_dir, "events")
    return funnel_rates(funnel(ev, ["view", "click", "purchase"]), n_steps=3)


@register(
    "source_jsonl_roundtrip",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
)
def source_jsonl_roundtrip(spark, sf_dir):
    """JSONL corpus source/sink round-trip (sources/jsonl.py): the
    documents table written as JSONL shards and read back through the
    EXPLICIT-schema reader must hash-match the original — newlines,
    quotes and unicode survive because JSON escaping is doing the work,
    not luck. The oracle is simply the original table."""
    import os

    from cm_well_spark.sources import tables as tbl
    from cm_well_spark.sources.jsonl import read_jsonl_documents, write_jsonl_documents

    docs = tbl.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = f"/tmp/cmw_jsonl_{os.path.basename(os.path.normpath(sf_dir))}"
    write_jsonl_documents(docs, path, shards=4)
    return read_jsonl_documents(spark, path)


@register(
    "graph_assortativity",
    oracle=_OP_EDGE_SQL
    + """,
    sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
    deg AS (SELECT src AS n, CAST(count(*) AS DOUBLE) AS d FROM sym GROUP BY 1),
    dec AS (
      SELECT dx.d AS dx, dy.d AS dy
      FROM sym JOIN deg dx ON sym.src = dx.n JOIN deg dy ON sym.dst = dy.n
    ),
    a AS (
      SELECT CAST(count(*) AS BIGINT) AS n_edges,
             sum(dx) AS sx, sum(dy) AS sy, sum(dx * dy) AS sxy,
             sum(dx * dx) AS sxx, sum(dy * dy) AS syy
      FROM dec
    )
    SELECT round(CASE WHEN n_edges * sxx - sx * sx > 0
                       AND n_edges * syy - sy * sy > 0
                 THEN (n_edges * sxy - sx * sy)
                      / sqrt((n_edges * sxx - sx * sx) * (n_edges * syy - sy * sy))
                 END, 6) AS r,
           n_edges
    FROM a
    """,
)
def graph_assortativity(spark, sf_dir):
    """Degree assortativity of the order—part co-occurrence graph
    (graph.py:assortativity, Newman 2002): endpoint-degree Pearson r
    over symmetric edges — one degree count, two decorating joins, one
    five-sum aggregate, replayed sum-for-sum by the oracle."""
    from cm_well_spark.operators.graph import assortativity

    return assortativity(_op_edges(spark, sf_dir))


@register(
    "events_activity_gini",
    oracle="""
    WITH per AS (
      SELECT user_id, CAST(count(*) AS DOUBLE) AS x FROM events GROUP BY 1
    ),
    rk AS (
      SELECT x, CAST(row_number() OVER (ORDER BY x ASC, user_id ASC) AS DOUBLE) AS i
      FROM per
    ),
    a AS (
      SELECT CAST(count(*) AS BIGINT) AS n_entities, sum(x) AS sx,
             sum(i * x) AS six
      FROM rk
    )
    SELECT round(CASE WHEN n_entities > 0 AND sx > 0
                 THEN 2.0 * six / (n_entities * sx) - (n_entities + 1.0) / n_entities
                 END, 6) AS gini,
           n_entities, round(sx, 6) AS total
    FROM a
    """,
)
def events_activity_gini(spark, sf_dir):
    """Gini coefficient of per-user event volume
    (aggregations.py:gini_coefficient): the exact rank-sum formula over
    the REDUCED per-entity relation — the inequality lens that flags
    bot-dominated traffic or single-source-dominated crawls. The oracle
    replays ranking and both sums."""
    from cm_well_spark.operators.aggregations import gini_coefficient
    from cm_well_spark.sources import tables as tbl

    return gini_coefficient(tbl.load_table(spark, sf_dir, "events"), "user_id")


@register(
    "events_resample_ffill",
    oracle="""
    WITH obs AS (
      SELECT user_id AS key, time_bucket(INTERVAL 1 DAY, ts) AS b,
             round(arg_max(value, printf('%020d|%020d', epoch_us(ts) + (1::BIGINT << 62), event_id + (1::BIGINT << 62))), 6)
               AS v
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT key, min(b) AS lo, max(b) AS hi FROM obs GROUP BY 1),
    grid AS (
      SELECT key, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS b
      FROM bounds
    ),
    j AS (
      SELECT g.key, g.b, o.v FROM grid g LEFT JOIN obs o USING (key, b)
    )
    SELECT key AS user_id, strftime(b, '%Y-%m-%d %H:%M') AS bucket,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY key ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           (v IS NOT NULL) AS is_observed
    FROM j
    """,
)
def events_resample_ffill(spark, sf_dir):
    """Daily-grid resampling with forward fill per user
    (temporal.py:resample_ffill): last observation per bucket
    (composite-key tie-deterministic), per-key gapless grid exploded
    from the REDUCED bounds relation, one keyed running
    last(ignorenulls) through the gaps. The oracle replays the grid
    and the fill with generate_series + IGNORE NULLS."""
    from cm_well_spark.operators.temporal import resample_ffill
    from cm_well_spark.sources import tables as tbl

    out = resample_ffill(tbl.load_table(spark, sf_dir, "events"), bucket="1 day")
    return out.select(F.col("key").alias("user_id"), "bucket", "value", "is_observed")


@register(
    "embedding_centroid_drift",
    oracle="""
    WITH longf AS (
      SELECT vec_id, label, unnest(embedding) AS val,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    ca AS (
      SELECT label, pos, avg(val) AS a FROM longf
      WHERE vec_id % 2 = 0 GROUP BY 1, 2
    ),
    cb AS (
      SELECT label, pos, avg(val) AS b FROM longf
      WHERE vec_id % 2 = 1 GROUP BY 1, 2
    ),
    d AS (
      SELECT ca.label, sum(a * b) AS dot, sum(a * a) AS na, sum(b * b) AS nb
      FROM ca JOIN cb USING (label, pos) GROUP BY 1
    ),
    cnt_a AS (SELECT label, CAST(count(*) AS BIGINT) AS n_a FROM embeddings
              WHERE vec_id % 2 = 0 GROUP BY 1),
    cnt_b AS (SELECT label, CAST(count(*) AS BIGINT) AS n_b FROM embeddings
              WHERE vec_id % 2 = 1 GROUP BY 1)
    SELECT d.label, n_a, n_b,
           round(CASE WHEN na > 0 AND nb > 0 THEN dot / (sqrt(na) * sqrt(nb)) END, 6)
             AS cosine
    FROM d JOIN cnt_a USING (label) JOIN cnt_b USING (label)
    """,
)
def embedding_centroid_drift(spark, sf_dir):
    """Per-label centroid drift between the even/odd vec_id halves of
    the embedding corpus (similarity.py:centroid_drift): both sides
    reduce through the posexplode centroid kernel, one (label, pos)
    join, one keyed fold to cosine — the embedding-space
    distribution-shift monitor. The synthetic halves are iid, so
    cosines sit near 1; the oracle replays centroids, fold, and
    counts."""
    from cm_well_spark.operators.similarity import centroid_drift
    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    a = embs.where(F.col("vec_id") % 2 == 0)
    b = embs.where(F.col("vec_id") % 2 == 1)
    return centroid_drift(a, b)


@register(
    "events_near_duplicates",
    oracle="""
    WITH e AS (SELECT event_id, user_id, event_type, ts FROM events)
    SELECT a.event_id AS id_a, b.event_id AS id_b,
           round((epoch_us(b.ts) - epoch_us(a.ts)) / 1000000.0, 6) AS gap_seconds
    FROM e a JOIN e b
      ON a.user_id = b.user_id AND a.event_type = b.event_type
     AND a.event_id <> b.event_id
     AND epoch_us(b.ts) - epoch_us(a.ts)
         BETWEEN 0 AND CAST(3600 AS BIGINT) * 1000000
     AND (a.ts < b.ts OR a.event_id < b.event_id)
    """,
)
def events_near_duplicates(spark, sf_dir):
    """Double-fire detection (temporal.py:near_duplicate_events): same
    (user, type) pairs within 1 hour — retry storms and double submits,
    found with the interval-bucketing discipline (each later event
    probes its own and the previous band bucket; exact predicate as a
    residual) instead of the per-key cross join over full history the
    oracle runs. Value matching off here: the synthetic values are
    continuous."""
    from cm_well_spark.operators.temporal import near_duplicate_events
    from cm_well_spark.sources import tables as tbl

    ev = tbl.load_table(spark, sf_dir, "events")
    return near_duplicate_events(ev, within_seconds=3600, value_col=None)


@register(
    "auth_visibility_filter",
    oracle="""
    SELECT '/tpch/nation/' || n_nationkey AS path FROM nation
    UNION ALL
    SELECT '/tpch/supplier/' || s_suppkey AS path FROM supplier WHERE s_suppkey = 10
    """,
)
def auth_visibility_filter(spark, sf_dir):
    """Row-level security (auth.py:permission_filter — the analytic core
    of the reference's security/Authorization.scala:67-103): the
    principal's signed path rules compile to ONE boolean Column riding
    the scan. This principal reads /tpch/nation recursively, is denied
    /tpch/supplier recursively at user level, holds a role granting the
    single path /tpch/supplier/10 (the reference's role-overrides-
    user-deny fall-through, :88-99), and carries a +r on /tpch/supp —
    the isSubfolderOf boundary decoy that must NOT leak /tpch/supplier
    (:37-41). The oracle replays the decided set: all nations plus the
    role-granted supplier, where that supplier exists (supplier keys at
    sf0.001 stop at 9)."""
    from cm_well_spark.operators.auth import visible

    user = {
        "paths": [
            {"id": "/tpch/nation", "recursive": True, "sign": "+", "permissions": "r"},
            {"id": "/tpch/supp", "recursive": True, "sign": "+", "permissions": "r"},
            {"id": "/tpch/supplier", "recursive": True, "sign": "-", "permissions": "rw"},
        ],
        "roles": ["auditor"],
    }
    roles = {
        "auditor": {
            "paths": [
                {"id": "/tpch/supplier/10", "recursive": False, "sign": "+", "permissions": "r"}
            ]
        }
    }
    inf = _inf(spark, sf_dir).where(F.col("current"))
    return visible(inf, user, roles=roles).select("path")


@register(
    "auth_token_visibility",
    oracle="""
    SELECT '/tpch/customer/' || c_custkey AS path FROM customer
    """,
)
def auth_token_visibility(spark, sf_dir):
    """Authentication end to end (tokens.py — security/Token.scala:27-88,
    LoginHandler.scala:44-66, AuthUtils.scala:57-70): Basic login mints
    an HS256 JWT (millis exp, rev claim), validation survives key
    rotation via the two-secret check, and the validated principal's
    path rules compile into the row-level-security Column of
    auth.visible(). A forged or revoked token would collapse the result
    to empty and hash-mismatch the oracle, which replays the decided
    set: every customer path."""
    from cm_well_spark.operators import tokens as tk
    from cm_well_spark.operators.auth import visible

    now = 1_700_000_000_000
    users = {
        "analyst": {
            "digest2": tk.digest2("analyst", "s3cret"),
            "rev": 3,
            "paths": [
                {"id": "/tpch/customer", "recursive": True, "sign": "+", "permissions": "r"},
                {"id": "/tpch/cust", "recursive": True, "sign": "+", "permissions": "r"},
            ],
        }
    }
    granted = tk.login_basic(users, "analyst", "s3cret", "signing-key", exp="30d", now_ms=now)
    user, name = tk.principal_for_token(
        granted["token"], users, ["rotated-key", "signing-key"], now_ms=now + 3_600_000
    )
    if user is None:
        return spark.createDataFrame([], "path STRING")
    inf = _inf(spark, sf_dir).where(F.col("current"))
    return visible(inf, user, username=name).select("path")


@register(
    "admin_fix_paths",
    oracle="""
    SELECT '/tpch/nation/' || n_nationkey AS path, 'a' || n_nationkey AS uuid,
           1000 + n_nationkey AS index_time, FALSE AS is_current FROM nation
    UNION ALL
    SELECT '/tpch/nation/' || n_nationkey, 'b' || n_nationkey,
           2000 + n_nationkey, TRUE FROM nation
    """,
)
def admin_fix_paths(spark, sf_dir):
    """x-fix repair semantics (operators/fix.py:repair_versions —
    stortill Operations.scala fixWith:165-240 via Application.scala:3221
    op=x-fix): a corrupted two-version history per nation (current stuck
    on the OLD version, the new version row duplicated) comes out of the
    repair with duplicates collapsed and exactly the latest version
    current. The oracle replays the repaired state: per path, version
    'a' demoted and version 'b' current."""
    from cm_well_spark.operators.fix import repair_versions
    from cm_well_spark.sources import tables as tbl

    n = tbl.load_table(spark, sf_dir, "nation").select(
        F.concat(F.lit("/tpch/nation/"), F.col("n_nationkey")).alias("path"),
        F.col("n_nationkey").cast("long").alias("k"),
    )
    v1 = n.select(
        "path",
        F.concat(F.lit("a"), F.col("k")).alias("uuid"),
        (F.lit(1000) + F.col("k")).alias("index_time"),
        F.lit(True).alias("current"),  # stale: stuck on the old version
    )
    v2 = n.select(
        "path",
        F.concat(F.lit("b"), F.col("k")).alias("uuid"),
        (F.lit(2000) + F.col("k")).alias("index_time"),
        F.lit(False).alias("current"),
    )
    corrupted = v1.unionByName(v2).unionByName(v2)  # + duplicate row
    return repair_versions(corrupted).select(
        "path", "uuid", "index_time", F.col("current").alias("is_current")
    )


