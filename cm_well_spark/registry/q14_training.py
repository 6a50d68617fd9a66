"""Semantic dedup, quantization, training export, multimodal dedup.

Registry tranche split out of the former single-module registry
(VERDICT r10 item 9); entry code is unchanged — shared helpers live in
`cm_well_spark.registry._core`.
"""

from cm_well_spark.registry._core import *  # noqa: F401,F403

@register(
    "embedding_kmeans_assign",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS sv
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)
    ),
    scored AS (SELECT vec_id, cell, list_dot_product(v, sv) AS sim FROM e CROSS JOIN seeds)
    SELECT vec_id, CAST(cell AS INT) AS cell FROM (
      SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def embedding_kmeans_assign(spark, sf_dir):
    """Deterministic fixed-seed k-means assignment (the oracle-checkable
    core of IVF/SemDeDup clustering): every vector to the max-dot-product
    seed, seeds = the k smallest ids. One scan, seeds broadcast as
    literals, no shuffle."""
    from cm_well_spark.operators.similarity import kmeans_assign_fixed
    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    return kmeans_assign_fixed(embs, k=8)


@register(
    "embedding_semantic_dedup",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS sv
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)
    ),
    assign AS (
      SELECT vec_id, CAST(cell AS INT) AS cell FROM (
        SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY list_dot_product(v, sv) DESC, cell DESC) AS rn
        FROM e CROSS JOIN seeds
      ) WHERE rn = 1
    ),
    vec AS (SELECT e.vec_id, e.v, a.cell FROM e JOIN assign a USING (vec_id)),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM vec a JOIN vec b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.9
    )
    SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS keep
    FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id
    """,
)
def embedding_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): within-cluster cosine near-identity
    dedup, smallest id kept. The pairwise check is an equi-join on the
    cell — never a global cross join."""
    from cm_well_spark.operators.similarity import semantic_dedup
    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(embs, k=8, threshold=0.9)


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
    s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e)
    SELECT vec_id, round(scale, 9) AS scale,
           CASE WHEN scale > 0
                THEN array_to_string(list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INT)), ',')
                ELSE array_to_string(list_transform(v, x -> 0), ',') END AS q
    FROM s
    """,
)
def embedding_quantize_int8(spark, sf_dir):
    """Symmetric per-vector int8 quantization (the 4x memory cut before
    sharding a billion-vector index); q stringified on both sides so the
    hash compare sees identical scalars."""
    from cm_well_spark.operators.similarity import quantize_int8
    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    out = quantize_int8(embs)
    return out.select(
        "vec_id",
        "scale",
        F.concat_ws(",", F.transform("q", lambda x: x.cast("string"))).alias("q"),
    )


@register(
    "pack_windows",
    oracle="""
    WITH d AS (
      SELECT doc_id, CAST(doc_id % 4 AS INT) AS shard,
             len(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    o AS (
      SELECT doc_id, shard, tok,
             CAST(sum(tok) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS e
      FROM d
    ),
    s AS (SELECT doc_id, shard, tok, e - tok AS st, e FROM o)
    SELECT doc_id, shard, u.w AS window,
           CAST(least(e, (u.w + 1) * 256) - greatest(st, u.w * 256) AS INT) AS win_tokens,
           CAST(greatest(st - u.w * 256, 0) AS INT) AS start_off
    FROM s, LATERAL (
      SELECT unnest(generate_series(CAST(floor(st / 256) AS BIGINT),
                                    CAST(floor((e - 1) / 256) AS BIGINT))) AS w
    ) u
    """,
)
def pack_windows(spark, sf_dir):
    """GPT-style concat-and-chunk sequence packing: per-shard token
    stream cut every 256 tokens; each doc row-expands to the windows it
    overlaps. One shuffle on the shard key, spans via sequence+explode."""
    from cm_well_spark.operators.packing import pack_concat_windows
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    return pack_concat_windows(docs, budget=256, n_shards=4)


@register(
    "export_shard_order",
    oracle="""
    WITH d AS (
      SELECT doc_id, md5('cmw:' || CAST(doc_id AS VARCHAR)) AS h FROM documents
    ),
    b AS (
      SELECT doc_id, h,
             CAST(floor(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
                         + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) * 4 / 256) AS INT) AS shard
      FROM d
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS INT) AS pos
    FROM b
    """,
)
def export_shard_order(spark, sf_dir):
    """Deterministic global shuffle for training export: salted-md5
    (shard, pos) addresses, reproducible across topologies and replayable
    in any ANSI-SQL engine."""
    from cm_well_spark.operators.packing import shard_order
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    return shard_order(docs, n_shards=4)


@register(
    "embedding_kmeans_update",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS sv
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)
    ),
    assign AS (
      SELECT vec_id, CAST(cell AS INT) AS cell FROM (
        SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY list_dot_product(v, sv) DESC, cell DESC) AS rn
        FROM e CROSS JOIN seeds
      ) WHERE rn = 1
    ),
    vec AS (SELECT e.vec_id, e.v, a.cell FROM e JOIN assign a USING (vec_id))
    SELECT cell, CAST(u.i AS INT) AS pos, round(avg(v[u.i + 1]), 6) AS centroid
    FROM vec, LATERAL (SELECT unnest(range(len(v))) AS i) u
    GROUP BY cell, u.i
    """,
)
def embedding_kmeans_update(spark, sf_dir):
    """One Lloyd centroid-update step (the update half of ivf_assign's
    refinement, hash-pinned): per-(cell, pos) mean in long form —
    posexplode + partial-agg groupBy, never a collect_list of member
    vectors."""
    from cm_well_spark.operators.similarity import kmeans_update
    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    return kmeans_update(embs, k=8)


@register(
    "curation_mixture_weights",
    oracle="""
    WITH tok AS (
      SELECT source, CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    tgt AS (SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)) AS t(source, share)),
    j AS (SELECT tok.source, n_tokens, share FROM tok JOIN tgt USING (source)),
    cap AS (SELECT min(n_tokens / share) AS T FROM j)
    SELECT source, n_tokens, round(share * T / n_tokens, 6) AS rate FROM j, cap
    """,
)
def curation_mixture_weights(spark, sf_dir):
    """Domain-mixture solve (DoReMi/Pile-style): per-source sampling
    rates realizing a target token mixture, capped by the binding
    source. One bounded-dim groupBy + a one-row broadcast cap."""
    from cm_well_spark.operators.curation import mixture_weights
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    return mixture_weights(docs, {"src0": 0.5, "src1": 0.3, "src2": 0.2})


@register(
    "sp_paths_sparql",
    oracle="""
    SELECT s, name FROM (
      SELECT '/tpch/part/' || p_partkey AS s, p_name AS name
      FROM part WHERE p_retailprice > 910
      UNION
      SELECT '/tpch/part/5' AS s, p_name AS name FROM part WHERE p_partkey = 5
    ) ORDER BY s LIMIT 10000
    """,
)
def sp_paths_sparql(spark, sf_dir):
    """§3.2 `POST /_sp`: the paths/sparql payload end-to-end — populate
    runs each source line as its own search plan (one qp'd subtree search
    + one bare point read here), merges the path sets, scopes the quads
    by semi-join, and evaluates SPARQL on the subgraph
    (SpHandler.scala:165-251, PopulateAndQuery.populate:406-442)."""
    from cm_well_spark.operators.sp import sp_eval

    payload = (
        "PATHS\n"
        "/tpch/part?op=search&qp=retailprice>910&recursive\n"
        "/tpch/part/5\n"
        "\n"
        "SPARQL\n"
        "SELECT ?s ?name WHERE { ?s <name> ?name } ORDER BY ?s\n"
    )
    return sp_eval(_inf(spark, sf_dir), _tri(spark, sf_dir), payload)[0]


@register(
    "sp_paths_gremlin",
    oracle="""
    SELECT '/tpch/orders/' || o_orderkey AS path FROM orders
    WHERE o_totalprice > 400000
    """,
)
def sp_paths_gremlin(spark, sf_dir):
    """§3.2 `POST /_sp` with a GREMLIN section: same populate machinery,
    pipe-chain evaluated over the scoped subgraph."""
    from cm_well_spark.operators.sp import sp_eval

    payload = (
        "PATHS\n"
        "/tpch/orders?op=search&recursive\n"
        "\n"
        "GREMLIN\n"
        'g.V().has("rdfType", "Order").filter("totalprice", ">", 400000).paths()\n'
    )
    return sp_eval(_inf(spark, sf_dir), _tri(spark, sf_dir), payload)[0]


@register(
    "sp_import_expand",
    oracle="""
    SELECT '/tpch/customer/' || c_custkey AS c, '/tpch/region/' || r_regionkey AS r
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE c_mktsegment = 'BUILDING'
    ORDER BY c, r LIMIT 10000
    """,
)
def sp_import_expand(spark, sf_dir):
    """§3.2 `_sp` IMPORT arc: a stored CONSTRUCT snippet expands the
    populated dataset (QueriesImporter + JenaUtils.expandDataset,
    SpHandler.scala:560-578) and the main query — parameterized through
    `%seg%` custom-params substitution — matches the inferred triples."""
    from cm_well_spark.operators.sp import sp_eval

    stored = {
        "/queries/locate": (
            "CONSTRUCT { ?c <locatedIn> ?r } "
            "WHERE { ?c <inNation> ?n . ?n <ofRegion> ?r }"
        )
    }
    payload = (
        "PATHS\n/tpch?op=search&recursive\n\n"
        "IMPORT\n/queries/locate\n\n"
        "SPARQL\nSELECT ?c ?r WHERE { ?c <locatedIn> ?r . ?c <mktsegment> %seg% } ORDER BY ?c ?r\n"
    )
    return sp_eval(
        _inf(spark, sf_dir),
        _tri(spark, sf_dir),
        payload,
        stored=stored,
        custom_params={"seg": '"BUILDING"'},
    )[0]


@register(
    "events_asof_latest_order",
    oracle="""
    WITH o1 AS (
      SELECT o_custkey AS user_id, CAST(o_orderdate AS TIMESTAMP) AS ots,
             max(o_orderkey) AS order_key,
             round(max_by(o_totalprice, o_orderkey), 2) AS order_price
      FROM orders GROUP BY 1, 2
    )
    SELECT e.event_id, o1.order_key, o1.order_price
    FROM events e ASOF JOIN o1
      ON e.user_id = o1.user_id AND e.ts >= o1.ots
    """,
)
def events_asof_latest_order(spark, sf_dir):
    """Backward as-of join (union + running-last window — Spark lacks
    the physical ASOF operator DuckDB has, so the oracle uses DuckDB's
    native ASOF JOIN as an independent implementation): every event gets
    the issuing user's most recent order at-or-before the event time.
    Right side pre-aggregated to one row per (user, date) by max
    orderkey so tie-breaks are engine-independent."""
    from cm_well_spark.operators.temporal import asof_join
    from cm_well_spark.sources import tables as tbl

    events = tbl.load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    orders = (
        tbl.load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), F.col("o_orderdate").alias("ots"))
        .agg(F.max(F.struct("o_orderkey", "o_totalprice")).alias("__top"))
        .select(
            "user_id",
            "ots",
            F.col("__top.o_orderkey").alias("order_key"),
            F.round("__top.o_totalprice", 2).alias("order_price"),
        )
    )
    out = asof_join(
        events, orders, on="user_id", left_ts="ts", right_ts="ots",
        right_cols=["order_key", "order_price"],
    )
    return out.select("event_id", "order_key", "order_price")


@register(
    "events_range_prev_hour",
    oracle="""
    SELECT e.event_id, count(*) AS n_prev
    FROM events e JOIN events r
      ON e.user_id = r.user_id
     AND e.ts >= r.ts AND e.ts <= r.ts + INTERVAL 1 HOUR
     AND r.event_id <> e.event_id
    GROUP BY e.event_id
    """,
)
def events_range_prev_hour(spark, sf_dir):
    """Interval range join via time bucketing (bucket equi-join +
    precise residual — never the nested-loop plan a raw BETWEEN
    predicate produces): per event, how many same-user events started
    within the preceding hour."""
    from cm_well_spark.operators.temporal import interval_range_join
    from cm_well_spark.sources import tables as tbl

    ev = tbl.load_table(spark, sf_dir, "events")
    left = ev.select("event_id", "ts", "user_id")
    right = ev.select(
        "user_id",
        F.col("ts").alias("r_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("r_end"),
        F.col("event_id").alias("r_id"),
    )
    out = interval_range_join(
        left, right, left_ts="ts", right_start="r_start", right_end="r_end",
        on="user_id", bucket_seconds=3600, right_cols=["r_id"],
    )
    return (
        out.where(F.col("r_id") != F.col("event_id"))
        .groupBy("event_id")
        .agg(F.count("*").alias("n_prev"))
    )


@register(
    "snapshot_at_cutoff",
    oracle="""
    SELECT '/tpch/customer/' || c_custkey AS path, c_name AS name
    FROM customer
    WHERE CAST('2020-01-01 00:00:00' AS TIMESTAMP) + INTERVAL (c_custkey % 10000000) SECOND
          <= CAST('2020-01-01 00:02:00' AS TIMESTAMP)
    """,
)
def snapshot_at_cutoff(spark, sf_dir):
    """Time-travel read (S5 extension): the customer subtree as the
    store stood at the cutoff — per path the latest version with
    last_modified <= ts, tombstone heads excluded. One per-path window
    over a time-pruned scan."""
    import datetime as dt

    from cm_well_spark.operators.search import snapshot_at

    snap = snapshot_at(_inf(spark, sf_dir), dt.datetime(2020, 1, 1, 0, 2, 0))
    return (
        snap.where(F.col("parent") == "/tpch/customer")
        .select("path", fv.first_value("name").alias("name"))
    )


@register(
    "curation_export_pipeline",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, source, text, md5({_NORM_SQL.format(c='text')}) AS fp
      FROM documents
    ), dedup AS (
      SELECT doc_id, source, text FROM corpus c
      WHERE doc_id = (SELECT min(doc_id) FROM corpus c2 WHERE c2.fp = c.fp)
    ), q AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(string_split_regex(trim(lower(text)), '\\s+')) AS n_words,
             len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
             len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
             len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                 w -> w IN ('the','a','an','and','or','of','to','in','is','it',
                            'that','for','on','with','as'))) AS stop_hits
      FROM dedup
    ), scored AS (
      SELECT doc_id, n_words,
             least((n_alpha * 1.0 / greatest(n_chars, 1)) / 0.7, 1.0) * 0.4
             + least((stop_hits * 1.0 / greatest(n_words, 1)) / 0.3, 1.0) * 0.3
             + (CASE WHEN (n_chars - (n_words - 1)) * 1.0 / n_words BETWEEN 3 AND 10
                     THEN 1.0 ELSE 0.3 END) * 0.2
             + (CASE WHEN n_punct * 1.0 / greatest(n_chars, 1) <= 0.1
                     THEN 1.0 ELSE 0.5 END) * 0.1 AS quality
      FROM q
    ), kept AS (
      SELECT d.doc_id, d.source, d.text FROM dedup d JOIN scored s ON d.doc_id = s.doc_id
      WHERE s.n_words >= 5 AND s.n_words <= 100000 AND s.quality >= 0.5
    ), tok AS (
      SELECT source, CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
      FROM kept GROUP BY source
    ), tgt AS (
      SELECT * FROM (VALUES ('src0', 0.4), ('src1', 0.3), ('src2', 0.2), ('src3', 0.1))
      AS t(source, share)
    ), j AS (SELECT tok.source, n_tokens, share FROM tok JOIN tgt USING (source)),
    cap AS (SELECT min(n_tokens / share) AS T FROM j),
    rates AS (SELECT source, share * T / n_tokens AS rate FROM j, cap),
    sampled AS (
      SELECT k.doc_id, k.text FROM kept k JOIN rates r USING (source)
      WHERE substring(md5('cmw:' || k.doc_id), 1, 4) <
            CASE WHEN r.rate >= 1 THEN 'zzzz'
                 ELSE lpad(lower(to_hex(CAST(floor(r.rate * 65536) AS INT))), 4, '0') END
    ), d2 AS (
      SELECT doc_id, CAST(doc_id % 4 AS INT) AS shard,
             len(string_split_regex(trim(text), '\\s+')) AS tok
      FROM sampled
    ), o2 AS (
      SELECT doc_id, shard, tok,
             CAST(sum(tok) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS e
      FROM d2
    ), s2 AS (SELECT doc_id, shard, tok, e - tok AS st, e FROM o2),
    spans AS (
      SELECT doc_id, shard, u.w AS window,
             CAST(least(e, (u.w + 1) * 256) - greatest(st, u.w * 256) AS INT) AS win_tokens
      FROM s2, LATERAL (
        SELECT unnest(generate_series(CAST(floor(st / 256) AS BIGINT),
                                      CAST(floor((e - 1) / 256) AS BIGINT))) AS w
      ) u
    )
    SELECT shard, "window", count(DISTINCT doc_id) AS n_docs,
           CAST(sum(win_tokens) AS BIGINT) AS n_tokens
    FROM spans GROUP BY 1, 2
    """,
)
def curation_export_pipeline(spark, sf_dir):
    """Flagship export-tail composition, ONE Catalyst plan: exact dedup
    -> quality filter -> domain-mixture solve -> sampling at the solved
    rates (sample_by_rates joins the computed rates in, no driver
    round-trip) -> concat-and-chunk packing -> per-(shard, window)
    manifest a training launcher reads to size its loader shards."""
    from cm_well_spark.operators.curation import export_pipeline
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    return export_pipeline(
        docs, {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
    )


@register(
    "streaming_pack_manifest",
    oracle="""
    WITH d AS (
      SELECT doc_id, CAST(doc_id % 4 AS INT) AS shard,
             len(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    o AS (
      SELECT doc_id, shard, tok,
             CAST(sum(tok) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS e
      FROM d
    ),
    s AS (SELECT doc_id, shard, tok, e - tok AS st, e FROM o),
    spans AS (
      SELECT doc_id, shard, u.w AS window,
             CAST(least(e, (u.w + 1) * 256) - greatest(st, u.w * 256) AS INT) AS win_tokens
      FROM s, LATERAL (
        SELECT unnest(generate_series(CAST(floor(st / 256) AS BIGINT),
                                      CAST(floor((e - 1) / 256) AS BIGINT))) AS w
      ) u
    )
    SELECT shard, "window", count(*) AS n_docs, CAST(sum(win_tokens) AS BIGINT) AS n_tokens
    FROM spans GROUP BY 1, 2
    """,
)
def streaming_pack_manifest(spark, sf_dir):
    """Streaming sequence packing (applyInPandasWithState, one running
    offset per shard): the documents table replayed as an id-ordered file
    stream, packed in-flight; the per-(shard, window) manifest equals the
    batch packer's — the streaming/batch parity an always-on export
    pipeline depends on."""
    import os
    import shutil
    import tempfile
    import uuid

    from cm_well_spark.sources import tables as tbl
    from cm_well_spark.streaming.packing import streaming_pack

    docs = tbl.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="cmw_spack_")
    feed = os.path.join(work, "feed")
    # one file -> one micro-batch: the in-batch doc_id sort then matches
    # the batch packer's per-shard id order exactly
    docs.orderBy("doc_id").coalesce(1).write.mode("overwrite").parquet(feed)
    stream = spark.readStream.schema(docs.schema).parquet(feed)
    name = f"spack_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_pack(stream, budget=256, n_shards=4)
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = (
        spark.table(name)
        .groupBy("shard", "window")
        .agg(F.count("*").alias("n_docs"), F.sum("win_tokens").cast("long").alias("n_tokens"))
        .transform(iter_checkpoint)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "embedding_pq_codes",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS sv
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)
    ),
    sub AS (
      SELECT e.vec_id, j.j AS sub, s.cell,
             list_distance(e.v[j.j * 16 + 1 : j.j * 16 + 16],
                           s.sv[j.j * 16 + 1 : j.j * 16 + 16]) AS dist
      FROM e CROSS JOIN (SELECT unnest(range(4)) AS j) j CROSS JOIN seeds s
    ),
    best AS (
      SELECT vec_id, sub, cell FROM (
        SELECT vec_id, sub, cell,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist ASC, cell ASC) AS rn
        FROM sub
      ) WHERE rn = 1
    )
    SELECT vec_id, string_agg(CAST(cell AS VARCHAR), ',' ORDER BY sub) AS codes
    FROM best GROUP BY vec_id
    """,
)
def embedding_pq_codes(spark, sf_dir):
    """Product-quantization codes (m=4 subspaces x k=8 fixed-seed
    codebook entries over the 64-dim vectors): the IVF-PQ memory layout,
    encoded in one scan with codebooks broadcast as literals. Codes
    stringified on both sides for the hash compare."""
    from cm_well_spark.operators.similarity import pq_encode
    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    out = pq_encode(embs, m=4, k=8)
    return out.select(
        "vec_id",
        F.concat_ws(",", F.transform("codes", lambda x: x.cast("string"))).alias("codes"),
    )


@register(
    "similarity_pq_topk",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS sv
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)
    ),
    q AS (SELECT v AS qv FROM e ORDER BY vec_id LIMIT 1),
    sub AS (
      SELECT e.vec_id, j.j AS sub, s.cell,
             list_distance(e.v[j.j * 16 + 1 : j.j * 16 + 16],
                           s.sv[j.j * 16 + 1 : j.j * 16 + 16]) AS dist
      FROM e CROSS JOIN (SELECT unnest(range(4)) AS j) j CROSS JOIN seeds s
    ),
    best AS (
      SELECT vec_id, sub, cell FROM (
        SELECT vec_id, sub, cell,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist ASC, cell ASC) AS rn
        FROM sub
      ) WHERE rn = 1
    ),
    qd AS (
      SELECT b.vec_id,
             list_sum(list_transform(
               list_zip(q.qv[b.sub * 16 + 1 : b.sub * 16 + 16],
                        s.sv[b.sub * 16 + 1 : b.sub * 16 + 16]),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d
      FROM best b JOIN seeds s ON b.cell = s.cell CROSS JOIN q
    )
    SELECT vec_id, round(sum(d), 6) AS adc_dist
    FROM qd GROUP BY vec_id
    ORDER BY adc_dist ASC, vec_id ASC LIMIT 10
    """,
)
def similarity_pq_topk(spark, sf_dir):
    """PQ ADC top-k: query-time scan touches only the m-byte codes —
    the billion-scale memory path. With FIXED codebooks the whole
    ranking is deterministic, so the oracle replays encode + LUT + sum
    in SQL and the hash must match (approximate vs the TRUE neighbors,
    exact as a function — recall vs brute force is pinned by pytest)."""
    from cm_well_spark.operators.similarity import pq_topk
    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    return pq_topk(embs, _query_vec(spark, sf_dir), k=10, m=4, n_codes=8)


@register("similarity_ivfpq_topk")
def similarity_ivfpq_topk(spark, sf_dir):
    """IVF-PQ top-k: coarse cells prune the scan, ADC ranks the codes —
    query IO = (n_probe/n_cells) * m bytes/vector — then the standard
    exact re-rank of the ADC top-4k against the float vectors (a
    broadcast-sized id semi-join). Approximate candidate generation ->
    rows-only; recall (incl. rerank >= ADC-only) pinned by pytest."""
    from cm_well_spark.operators.similarity import ivfpq_topk
    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(embs, _query_vec(spark, sf_dir), k=10)


@register(
    "text_bpe_merges",
    oracle=lambda sf_dir: f"""
    SELECT * FROM (VALUES {_twin("bpe_merges_values", sf_dir)})
    AS t(rank, "left", "right")
    """,
)
def text_bpe_merges(spark, sf_dir):
    """BPE vocabulary learning (Sennrich 2016) on the word-frequency
    table: one columnar pair-count aggregation + deterministic top-pair
    per round, merges applied as a per-round literal fold. Hash-matched
    (r9, FFD-twin precedent): integer counts + lexicographic tie-breaks
    make the merge list fully deterministic, so oracle_twins.py
    re-derives it for the pinned slice with an INDEPENDENT pure-Python
    learner and inlines it as a VALUES twin; pytest keeps the
    property-level pins."""
    from cm_well_spark.operators.bpe import learn_bpe
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    merges = learn_bpe(docs, n_merges=12)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)], "rank int, left string, right string"
    )


@register(
    "text_bpe_token_counts",
    oracle=lambda sf_dir: f"""
    WITH twin(doc_id, bpe_tokens) AS (VALUES {_twin("bpe_token_count_values", sf_dir)})
    SELECT d.doc_id, CAST(t.bpe_tokens AS BIGINT) AS bpe_tokens
    FROM documents d JOIN twin t USING (doc_id)
    WHERE d.doc_id < 100
    """,
)
def text_bpe_token_counts(spark, sf_dir):
    """Token counts under the learned BPE vocabulary: the merge loop
    runs once per DISTINCT word (Arrow-batched), counts broadcast-join
    back to the corpus. Hash-matched (r9): the independent pure-Python
    twin (oracle_twins.py) re-learns the merges AND re-encodes
    every doc; the oracle joins its counts back against the documents
    table for the pinned slice."""
    from cm_well_spark.operators.bpe import bpe_encode, learn_bpe
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    return bpe_encode(docs, learn_bpe(docs, n_merges=12))


@register(
    "text_bigram_nll",
    oracle=f"""
    WITH refd AS (
      SELECT string_split({_NORM_SQL.format(c='text')}, ' ') AS w
      FROM documents WHERE doc_id < 50
    ), corp AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS w
      FROM documents WHERE doc_id >= 50
    ), ref_toks AS (SELECT unnest(w) AS tok FROM refd),
    uni AS (SELECT tok, count(*) AS n_uni FROM ref_toks GROUP BY tok),
    total AS (SELECT count(*) AS t FROM ref_toks),
    ref_pairs AS (
      SELECT unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS p FROM refd
    ),
    bi AS (SELECT p[1] AS a, p[2] AS b, count(*) AS n_bi FROM ref_pairs GROUP BY 1, 2),
    doc_pairs AS (
      SELECT doc_id, u.p[1] AS a, u.p[2] AS b
      FROM corp, LATERAL (SELECT unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS p) u
    ),
    scored AS (
      SELECT d.doc_id,
             -log2(CASE WHEN bi.n_bi IS NOT NULL AND ua.n_uni IS NOT NULL
                        THEN bi.n_bi * 1.0 / ua.n_uni
                        ELSE 0.4 * coalesce(ub.n_uni, 0) / t END) AS nll
      FROM doc_pairs d
      LEFT JOIN bi ON d.a = bi.a AND d.b = bi.b
      LEFT JOIN uni ua ON d.a = ua.tok
      LEFT JOIN uni ub ON d.b = ub.tok
      CROSS JOIN total
    )
    SELECT doc_id, round(avg(nll), 6) AS bigram_nll
    FROM scored WHERE nll IS NOT NULL AND NOT isnan(nll) AND nll != 'infinity'
    GROUP BY doc_id
    """,
)
def text_bigram_nll(spark, sf_dir):
    """Bigram LM quality score with stupid backoff (KenLM-lite /
    CCNet-style perplexity filter): corpus docs (id>=50) scored against
    a model counted from the reference slice (id<50) — unseen bigrams
    exercise the columnar backoff path."""
    from cm_well_spark.operators.text import bigram_cross_entropy
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    return bigram_cross_entropy(
        docs.where(F.col("doc_id") >= 50), reference=docs.where(F.col("doc_id") < 50)
    )


@register(
    "text_trigram_nll",
    oracle=f"""
    WITH refd AS (
      SELECT string_split({_NORM_SQL.format(c='text')}, ' ') AS w
      FROM documents WHERE doc_id < 50
    ), corp AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS w
      FROM documents WHERE doc_id >= 50 AND doc_id < 300
    ), ref_toks AS (SELECT unnest(w) AS tok FROM refd),
    uni AS (SELECT tok, count(*) AS n_uni FROM ref_toks GROUP BY tok),
    total AS (SELECT count(*) AS t FROM ref_toks),
    ref_pairs AS (
      SELECT unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS p FROM refd
    ),
    bi AS (SELECT p[1] AS a, p[2] AS b, count(*) AS n_bi FROM ref_pairs GROUP BY 1, 2),
    ref_tris AS (
      SELECT unnest(list_zip(w[1:len(w)-2], w[2:len(w)-1], w[3:len(w)])) AS p FROM refd
      WHERE len(w) >= 3
    ),
    tri AS (SELECT p[1] AS a, p[2] AS b, p[3] AS c, count(*) AS n_tri
            FROM ref_tris GROUP BY 1, 2, 3),
    doc_tris AS (
      SELECT doc_id, u.p[1] AS a, u.p[2] AS b, u.p[3] AS c
      FROM corp, LATERAL (
        SELECT unnest(list_zip(w[1:len(w)-2], w[2:len(w)-1], w[3:len(w)])) AS p
      ) u
      WHERE len(w) >= 3
    ),
    scored AS (
      SELECT d.doc_id,
             -log2(CASE WHEN tri.n_tri IS NOT NULL AND ab.n_bi IS NOT NULL
                        THEN tri.n_tri * 1.0 / ab.n_bi
                        WHEN bc.n_bi IS NOT NULL AND ub.n_uni IS NOT NULL
                        THEN 0.4 * bc.n_bi / ub.n_uni
                        ELSE 0.16 * coalesce(uc.n_uni, 0) / t END) AS nll
      FROM doc_tris d
      LEFT JOIN tri ON d.a = tri.a AND d.b = tri.b AND d.c = tri.c
      LEFT JOIN bi ab ON d.a = ab.a AND d.b = ab.b
      LEFT JOIN bi bc ON d.b = bc.a AND d.c = bc.b
      LEFT JOIN uni ub ON d.b = ub.tok
      LEFT JOIN uni uc ON d.c = uc.tok
      CROSS JOIN total
    )
    SELECT doc_id, round(avg(nll), 6) AS trigram_nll
    FROM scored WHERE nll IS NOT NULL AND NOT isnan(nll) AND nll != 'infinity'
    GROUP BY doc_id
    """,
)
def text_trigram_nll(spark, sf_dir):
    """Trigram LM quality score with two-level stupid backoff
    (text.py:trigram_cross_entropy — the fidelity level CCNet's KenLM
    filter runs at): corpus docs (50<=id<300) scored against a model
    counted from the reference slice (id<50); unseen trigrams exercise
    the bigram backoff, unseen bigrams the unigram floor."""
    from cm_well_spark.operators.text import trigram_cross_entropy
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    return trigram_cross_entropy(
        docs.where((F.col("doc_id") >= 50) & (F.col("doc_id") < 300)),
        reference=docs.where(F.col("doc_id") < 50),
    )


@register(
    "curation_weighted_sample",
    oracle="""
    SELECT doc_id, n_chars,
           round(-ln((('0x' || substring(md5('wrs:' || doc_id), 1, 12))::BIGINT + 1.0)
                     / 281474976710658.0) / n_chars, 6) AS wrs_key
    FROM documents WHERE n_chars > 0
    ORDER BY wrs_key, doc_id LIMIT 100
    """,
)
def curation_weighted_sample(spark, sf_dir):
    """Length-weighted corpus sample without replacement
    (curation.py:weighted_sample, Efraimidis-Spirakis exponential
    clocks): md5-derived uniforms make the draw engine-replayable;
    TakeOrderedAndProject top-k, 1e-6-rounded keys with id tie-break."""
    from cm_well_spark.operators.curation import weighted_sample
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, "n_chars", k=100)


@register(
    "similarity_mmr_select",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e ORDER BY vec_id LIMIT 1),
    cand AS (
      SELECT vec_id, v, list_cosine_similarity(v, qv) AS rel
      FROM e, q ORDER BY rel DESC, vec_id ASC LIMIT 50
    ),
    s1 AS (SELECT vec_id, v, rel AS score FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
    sel1 AS (SELECT vec_id, v FROM s1),
    r2 AS (
      SELECT c.vec_id, c.v,
             0.7 * c.rel - 0.30000000000000004 * (SELECT max(list_cosine_similarity(c.v, s.v)) FROM sel1 s) AS mmr
      FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel1)
    ),
    s2 AS (SELECT vec_id, v, mmr AS score FROM r2 ORDER BY mmr DESC, vec_id LIMIT 1),
    sel2 AS (SELECT vec_id, v FROM sel1 UNION ALL SELECT vec_id, v FROM s2),
    r3 AS (
      SELECT c.vec_id, c.v,
             0.7 * c.rel - 0.30000000000000004 * (SELECT max(list_cosine_similarity(c.v, s.v)) FROM sel2 s) AS mmr
      FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel2)
    ),
    s3 AS (SELECT vec_id, v, mmr AS score FROM r3 ORDER BY mmr DESC, vec_id LIMIT 1),
    sel3 AS (SELECT vec_id, v FROM sel2 UNION ALL SELECT vec_id, v FROM s3),
    r4 AS (
      SELECT c.vec_id, c.v,
             0.7 * c.rel - 0.30000000000000004 * (SELECT max(list_cosine_similarity(c.v, s.v)) FROM sel3 s) AS mmr
      FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel3)
    ),
    s4 AS (SELECT vec_id, v, mmr AS score FROM r4 ORDER BY mmr DESC, vec_id LIMIT 1),
    sel4 AS (SELECT vec_id, v FROM sel3 UNION ALL SELECT vec_id, v FROM s4),
    r5 AS (
      SELECT c.vec_id, c.v,
             0.7 * c.rel - 0.30000000000000004 * (SELECT max(list_cosine_similarity(c.v, s.v)) FROM sel4 s) AS mmr
      FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel4)
    ),
    s5 AS (SELECT vec_id, v, mmr AS score FROM r5 ORDER BY mmr DESC, vec_id LIMIT 1),
    sel5 AS (SELECT vec_id, v FROM sel4 UNION ALL SELECT vec_id, v FROM s5),
    dummy AS (SELECT 1)
    SELECT * FROM (
      SELECT 1 AS rank, vec_id, round(score, 6) AS score FROM s1
      UNION ALL SELECT 2, vec_id, round(score, 6) FROM s2
      UNION ALL SELECT 3, vec_id, round(score, 6) FROM s3
      UNION ALL SELECT 4, vec_id, round(score, 6) FROM s4
      UNION ALL SELECT 5, vec_id, round(score, 6) FROM s5
    )
    """,
)
def similarity_mmr_select(spark, sf_dir):
    """MMR diverse top-5 (similarity.py:mmr_select, Carbonell &
    Goldstein 1998): exact cosine top-50 candidates
    (TakeOrderedAndProject), then 5 greedy rounds of
    lam*rel - (1-lam)*max-sim-to-selected over the bounded checkpointed
    candidate set. Every arithmetic step is a sequential double fold, so
    the oracle replays the greedy chain with 5 chained CTEs."""
    from cm_well_spark.operators.similarity import mmr_select
    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    return mmr_select(embs, _query_vec(spark, sf_dir), k=5, lam=0.7, fetch=50)


@register(
    "pack_bins_ffd",
    oracle=lambda sf_dir: f"""
    WITH d AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
             ('0x' || substring(md5('ffd:' || doc_id), 1, 8))::BIGINT % 8 AS bkt
      FROM documents WHERE doc_id < 400
    ),
    twin(doc_id, bin_id) AS (VALUES {_twin("ffd_values", sf_dir)})
    SELECT d.doc_id,
           CAST(CASE WHEN d.n_tok > 64 THEN -1 ELSE d.bkt END AS BIGINT) AS bucket,
           CAST(t.bin_id AS BIGINT) AS bin_id,
           CAST(d.n_tok AS BIGINT) AS n_tok
    FROM d JOIN twin t USING (doc_id)
    """,
)
def pack_bins_ffd_entry(spark, sf_dir):
    """First-fit-decreasing sequence packing (packing.py:pack_bins_ffd):
    salted-bucket parallel FFD, docs never split across sequences.
    Hash-matched (r9, VERDICT r8 item 3) via the multimodal-dHash
    precedent: the salted buckets and md5-tiebroken FFD order are fully
    deterministic, so oracle_twins.py re-derives the bin
    assignments for the pinned slice (doc_id < 400) with an INDEPENDENT
    pure-Python FFD and inlines them as a VALUES twin; n_tok and the
    bucket key are recomputed from the documents table in SQL, so only
    the sequential bin state comes from the twin. pytest still pins the
    capacity invariant, determinism, and packing efficiency."""
    from cm_well_spark.operators.packing import pack_bins_ffd
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    return pack_bins_ffd(docs, context_len=64, n_buckets=8)


@register(
    "text_unicode_nfc",
    oracle="""
    SELECT doc_id,
           nfc_normalize(
             CASE WHEN doc_id % 2 = 0 THEN 'e' || chr(769) || ' ' || text
                  ELSE chr(233) || ' ' || text END
           ) AS text
    FROM documents WHERE doc_id < 200
    """,
)
def text_unicode_nfc(spark, sf_dir):
    """Unicode NFC canonicalization (text.py:unicode_normalize) with a
    fixture that makes it bite on the ASCII corpus: even docs get a
    DECOMPOSED e+combining-acute prefix, odd docs the COMPOSED e-acute
    — NFC folds both spellings to the identical composed byte sequence,
    and the oracle proves Python unicodedata == DuckDB nfc_normalize
    bit-for-bit. Arrow-batched mapInPandas seam, passthrough columns."""
    from cm_well_spark.operators.text import unicode_normalize
    from cm_well_spark.sources import tables as tbl

    docs = (
        tbl.load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit("e\u0301 "), F.col("text")),
            )
            .otherwise(F.concat(F.lit("\u00e9 "), F.col("text")))
            .alias("text"),
        )
    )
    return unicode_normalize(docs, form="NFC")


@register(
    "curation_snapshot_diff",
    oracle="""
    WITH o AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id < 400
    ), n AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END) AS h
      FROM documents WHERE doc_id >= 10 AND doc_id < 410
    )
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.h IS NULL THEN 'added'
                WHEN n.h IS NULL THEN 'removed'
                WHEN o.h <> n.h THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    WHERE (o.h IS NULL OR n.h IS NULL OR o.h <> n.h)
    """,
)
def curation_snapshot_diff(spark, sf_dir):
    """Crawl-to-crawl delta (curation.py:snapshot_diff): old = docs
    [0,400), new = docs [10,410) with every 7th doc's text mutated —
    yielding added (400-409), removed (0-9), changed (%7) rows. Each
    side reduces to (id, md5) at the scan; one hash-only full-outer
    equi-join, text never shuffles."""
    from cm_well_spark.operators.curation import snapshot_diff
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") < 400)
    new = docs.where((F.col("doc_id") >= 10) & (F.col("doc_id") < 410)).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.upper(F.col("text"))).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new)


@register(
    "agg_heavy_hitters",
    oracle=f"""
    WITH words AS (
      SELECT unnest(string_split({_NORM_SQL.format(c='text')}, ' ')) AS token
      FROM documents
    ), tot AS (
      SELECT count(*) AS n FROM words WHERE token <> ''
    )
    SELECT token, CAST(count(*) AS BIGINT) AS cnt
    FROM words, tot
    WHERE token <> ''
    GROUP BY token, tot.n
    HAVING count(*) >= greatest(1, CAST(ceil(0.02 * tot.n) AS BIGINT))
    """,
)
def agg_heavy_hitters(spark, sf_dir):
    """Exact phi-heavy-hitters over the corpus word stream
    (sketches.py:heavy_hitters, Misra-Gries two-pass): per-batch
    bounded-memory frequent-items summaries nominate candidates (every
    key above phi*N is guaranteed in), then an exact recount of the
    candidate set only — the shuffle carries candidates, never the full
    distinct vocabulary. Exact answer, so the oracle is the brute-force
    GROUP BY ... HAVING."""
    from cm_well_spark.operators.sketches import word_heavy_hitters
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    return word_heavy_hitters(docs, phi=0.02)


@register(
    "dedup_span_removal",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS w
      FROM documents WHERE doc_id < 300
    ),
    grams AS (
      SELECT doc_id, u.i AS pos,
             md5(array_to_string(w[u.i + 1 : u.i + 16], ' ')) AS span_hash
      FROM d, LATERAL (
        SELECT unnest(range(greatest(len(w) - 16, 0) + 1)) AS i
      ) u
    ),
    recurring AS (
      SELECT span_hash FROM grams GROUP BY span_hash
      HAVING count(DISTINCT doc_id) >= 2
    ),
    starts AS (
      SELECT g.doc_id, list_sort(list(DISTINCT g.pos)) AS st
      FROM grams g JOIN recurring r USING (span_hash)
      GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           CASE WHEN s.st IS NULL THEN array_to_string(d.w, ' ')
                ELSE coalesce(array_to_string(
                  list_filter(d.w, (x, i) ->
                    len(list_filter(s.st, p -> p <= i - 1 AND i - 1 < p + 16)) = 0),
                  ' '), '')
           END AS text
    FROM d LEFT JOIN starts s USING (doc_id)
    """,
)
def dedup_span_removal(spark, sf_dir):
    """The deletion step of Lee et al. 2022 substring dedup
    (dedup.py:remove_duplicated_spans): every word covered by a 16-token
    span recurring across >= 2 docs is cut and the survivors restitched
    in order. The span table folds to one sorted start-array row per
    affected doc; the cut is columnar (higher-order filter over the
    doc's own words), unaffected docs pass a left join untouched — no
    corpus reassembly shuffle. The oracle replays the cut itself with
    the same list algebra."""
    from cm_well_spark.operators.dedup import remove_duplicated_spans
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return remove_duplicated_spans(docs, k=16, min_docs=2)


@register(
    "dedup_duplicated_spans",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id, u.i AS pos,
             md5(array_to_string(w[u.i + 1 : u.i + 16], ' ')) AS span_hash
      FROM d, LATERAL (
        SELECT unnest(range(greatest(len(w) - 16, 0) + 1)) AS i
      ) u
    ),
    recurring AS (
      SELECT span_hash FROM grams GROUP BY span_hash
      HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT g.doc_id, g.pos, g.span_hash
    FROM grams g JOIN recurring r USING (span_hash)
    """,
)
def dedup_duplicated_spans(spark, sf_dir):
    """Exact duplicated-span audit (Lee et al. 2022 substring dedup at
    word granularity): every position where a 16-token span recurs
    across >= 2 documents. Span text never shuffles — only its hash."""
    from cm_well_spark.operators.dedup import duplicated_spans
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    return duplicated_spans(docs, k=16, min_docs=2)


@register(
    "search_system_fields",
    oracle="""
    SELECT '/tpch/nation/' || n_nationkey AS path FROM nation
    WHERE CAST('2020-01-01 00:00:00' AS TIMESTAMP) + INTERVAL (n_nationkey % 10000000) SECOND
          > CAST('2020-01-01 00:00:10' AS TIMESTAMP)
    """,
)
def search_system_fields(spark, sf_dir):
    """F1 qp over system.* columns (system.parent equality AND a
    system.lastModified range in one filter list — RawFieldFilter's
    system-field branch): nations modified after the cutoff."""
    df = S.search(
        _inf(spark, sf_dir),
        qp="system.parent::/tpch/nation,system.lastModified>2020-01-01T00:00:10",
        length=None,
        enforce_limits=False,
    )
    return df.select("path")


@register(
    "streaming_window_counts",
    oracle="""
    SELECT strftime(to_timestamp(floor(epoch(ts) / 60) * 60), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n, round(sum(value), 2) AS total
    FROM events GROUP BY 1, 2
    """,
)
def streaming_window_counts(spark, sf_dir):
    """T-class watermarked tumbling-window rollup: the events table
    replayed as a stream, aggregated with a 10-minute watermark
    (bounded state); complete-mode output equals the batch rollup —
    streaming/batch parity for windowed aggregation."""
    import os
    import shutil
    import tempfile
    import uuid

    from cm_well_spark.sources import tables as tbl
    from cm_well_spark.streaming.windows import streaming_window_counts as swc

    ev = tbl.load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    work = tempfile.mkdtemp(prefix="cmw_swin_")
    feed = os.path.join(work, "feed")
    ev.write.mode("overwrite").parquet(feed)
    stream = spark.readStream.schema(ev.schema).parquet(feed)
    name = f"swin_{uuid.uuid4().hex[:8]}"
    q = (
        swc(stream, window="1 minute", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.table(name).transform(iter_checkpoint)
    shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "events_sliding_agg",
    oracle="""
    WITH w AS (
      SELECT e.event_type, e.value,
             to_timestamp((floor(epoch(e.ts) / 300) - u.i) * 300) AS window_start
      FROM events e, LATERAL (SELECT unnest(range(3)) AS i) u
      WHERE epoch(e.ts) >= (floor(epoch(e.ts) / 300) - u.i) * 300
        AND epoch(e.ts) < (floor(epoch(e.ts) / 300) - u.i) * 300 + 900
    )
    SELECT strftime(window_start, '%Y-%m-%d %H:%M') AS window_start,
           event_type, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM w GROUP BY 1, 2
    """,
)
def events_sliding_agg(spark, sf_dir):
    """Sliding-window aggregation (15-minute windows every 5 minutes):
    each event lands in window_len/slide = 3 overlapping windows —
    F.window's slide form, completing the tumbling/session/sliding trio.
    The oracle replays the window assignment with a bucket lateral."""
    from cm_well_spark.sources import tables as tbl

    ev = tbl.load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "15 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register("embedding_srp_buckets", oracle=_srp_oracle_sql())
def embedding_srp_buckets(spark, sf_dir):
    """SRP-LSH bucket assignment hash-pinned: sign-of-dot-product bit
    buckets under the deterministic LCG hyperplanes — the candidate
    generator behind lsh_topk / cosine_dup_pairs, previously pinned only
    through recall tests."""
    from cm_well_spark.operators.similarity import _planes, srp_bucket
    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    cast = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    planes = _planes(64, 6)
    return embs.select("vec_id", srp_bucket(cast, planes).alias("bucket"))


@register(
    "sp_import_udf",
    oracle="""
    SELECT '/tpch/orders/' || o_orderkey AS o,
           CAST(CAST(FLOOR(o_totalprice / 100000) AS BIGINT) AS VARCHAR) AS bucket
    FROM orders WHERE o_totalprice > 400000
    ORDER BY o LIMIT 10000
    """,
)
def sp_import_udf(spark, sf_dir):
    """§3.2 `_sp` jar/scala function import arc (SpHandler.scala:525-548):
    the reference hot-compiles Jena functions from an imported jar; here
    the import's basename resolves to a FunctionRegistry-registered Spark
    SQL function, callable by bare name inside BIND/FILTER. The function
    is a SQL macro, so the whole query stays one Catalyst plan — no
    Python in the row path."""
    from cm_well_spark.functions.udfs import FunctionRegistry
    from cm_well_spark.operators.sp import sp_eval

    reg = FunctionRegistry(spark)
    reg.register_sql(
        "pricebucket", ["x"],
        "CAST(CAST(FLOOR(CAST(x AS DOUBLE) / 100000) AS BIGINT) AS STRING)",
    )
    payload = (
        "PATHS\n/tpch/orders?op=search&recursive\n\n"
        "IMPORT\n/lib/pricebucket.scala\n\n"
        "SPARQL\nSELECT ?o ?bucket WHERE { ?o <totalprice> ?tp . FILTER(?tp > 400000) "
        "BIND(pricebucket(?tp) AS ?bucket) } ORDER BY ?o\n"
    )
    return sp_eval(
        _inf(spark, sf_dir), _tri(spark, sf_dir), payload, functions=reg
    )[0]


@register(
    "format_atom_lines",
    oracle="""
    WITH b AS (
      SELECT 'http://cmwell/tpch/region?op=search&amp;format=atom&amp;length=2&amp;offset=' AS pre
    )
    SELECT '<link rel="' || rel || '" href="' || pre || off || '"/>' AS doc
    FROM b, (VALUES ('self','0'),('first','0'),('last','4'),('next','2')) AS l(rel, off)
    UNION ALL
    SELECT '<entry><id>cmwell://tpch/region/' || r_regionkey
        || '</id><title>/tpch/region/' || r_regionkey
        || '</title><updated>'
        || strftime(to_timestamp(1577836800 + r_regionkey % 10000000), '%Y-%m-%dT%H:%M:%SZ')
        || '</updated></entry>' AS doc
    FROM region WHERE r_regionkey < 2
    """,
)
def format_atom_lines(spark, sf_dir):
    """S9 atom envelope to byte-level parity: pagination link rels
    (self/first/last/next/previous — PaginationInfo,
    Application.scala:2250-2288) + entry lines for one search page.
    Links are driver-side strings over the search's bounded scalars;
    entries are the distributed formatter."""
    from cm_well_spark.formats.render import atom_pagination_links, to_atom_entries

    inf = _inf(spark, sf_dir)
    regions = inf.where(
        F.col("current")
        & (F.col("kind") == "ObjectInfoton")
        & F.col("path").rlike("^/tpch/region/[0-9]+$")
    )
    total = regions.count()
    page = regions.orderBy("path").limit(2)
    links = atom_pagination_links(
        "http://cmwell/tpch/region?op=search", total, 0, 2, "&format=atom"
    )
    link_df = spark.createDataFrame([(l,) for l in links], "doc string")
    return link_df.unionByName(to_atom_entries(page).select("doc"))


@register(
    "compaction_roundtrip",
    oracle="""
    SELECT * FROM (VALUES
      ('/tpch/region/0', 'c1|c2', 3),
      ('/tpch/region/7001', 'NEW7001', 1)
    ) AS t(path, vals, n_versions)
    """,
)
def compaction_roundtrip(spark, sf_dir):
    """W2-W4 + compaction end-to-end: two incremental merge-on-read
    batches append O(batch) delta files (model/compaction.write_batch),
    compact folds them with the clustering range-shuffle ingest defers
    (disjoint per-file min-max ranges, predicate_stats re-collect,
    atomic dir swap), and the compacted store answers exactly what the
    in-memory merge (apply_commands) would. Constant oracle — the
    command fixture is fixed; the store copy is per-call and removed."""
    import shutil
    import tempfile
    from datetime import datetime

    from cm_well_spark.model.compaction import compact, write_batch
    from cm_well_spark.model.lakehouse import materialize
    from cm_well_spark.operators.merge import COMMAND_SCHEMA

    def sfv(v):
        return {"value": v, "vtype": "s", "lang": None, "quad": None, "num": None, "ts": None, "bool": None}

    src = materialize(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="cmw_compact_")
    store = os.path.join(work, "store")
    try:
        shutil.copytree(src, store)
        lm = datetime(2024, 3, 1)
        write_batch(spark, store, spark.createDataFrame(
            [("/tpch/region/0", 1, "write", {"extra": [sfv("c1")]}, None, lm, "https"),
             ("/tpch/region/7001", 1, "write", {"name": [sfv("NEW7001")]}, None, lm, "https")],
            COMMAND_SCHEMA))
        write_batch(spark, store, spark.createDataFrame(
            [("/tpch/region/0", 1, "write", {"extra": [sfv("c2")]}, None, lm, "https")],
            COMMAND_SCHEMA))
        compact(spark, store, target_rows_per_file=2_000_000)
        inf = spark.read.parquet(os.path.join(store, "infotons"))
        per_path = inf.where(F.col("path").isin("/tpch/region/0", "/tpch/region/7001"))
        cur = per_path.where(F.col("current")).select(
            "path",
            F.concat_ws(
                "|",
                F.array_sort(
                    F.transform(
                        F.coalesce(
                            F.col("fields").getItem("extra"),
                            F.col("fields").getItem("name"),
                            F.array(),
                        ),
                        lambda v: v["value"],
                    )
                ),
            ).alias("vals"),
        )
        nv = per_path.groupBy("path").agg(F.count("*").cast("int").alias("n_versions"))
        # force materialization BEFORE the temp store is deleted
        rows = cur.join(nv, "path").collect()
        return spark.createDataFrame(rows, "path string, vals string, n_versions int")
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "dedup_line_level",
    oracle="""
    WITH base AS (
      SELECT doc_id, replace(text, ' the ', chr(10)) AS text
      FROM documents WHERE doc_id < 200
    ),
    lines AS (
      SELECT doc_id, unnest(ls) AS line, unnest(range(1, len(ls)+1)) AS pos
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM base)
    ),
    keyed AS (
      SELECT doc_id, pos, line,
             md5(trim(regexp_replace(lower(line), '[^a-z0-9]+', ' ', 'g'))) AS lh
      FROM lines
    ),
    hot AS (SELECT lh FROM keyed GROUP BY lh HAVING count(DISTINCT doc_id) >= 2),
    kept AS (SELECT keyed.* FROM keyed ANTI JOIN hot USING (lh))
    SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
    FROM kept GROUP BY doc_id
    """,
)
def dedup_line_level(spark, sf_dir):
    """CCNet/RefinedWeb line-level dedup with reassembly: lines recurring
    across >= 2 documents drop, survivors stitch back in order. The
    synthetic docs carry no newlines, so the entry derives lines by
    splitting on a fixed word (the same non-regex replace in both
    engines) — the operator itself is delimiter-parameterized."""
    from cm_well_spark.operators.dedup import line_dedup
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    with_lines = docs.select(
        "doc_id", F.replace(F.col("text"), F.lit(" the "), F.lit("\n")).alias("text")
    )
    return line_dedup(with_lines, min_docs=2)


@register(
    "curation_url_filter",
    oracle="""
    WITH docs AS (
      SELECT doc_id,
             'https://www.site' || (doc_id % 7) || '.example.com/p/' || doc_id AS url
      FROM documents WHERE doc_id < 500
    )
    SELECT doc_id, url FROM docs
    WHERE (doc_id % 7) NOT IN (2, 5)
    """,
)
def curation_url_filter(spark, sf_dir):
    """RefinedWeb/CCNet URL-filtering pass: subdomain-correct blocklist
    drop via suffix explode + broadcast semi-join, corpus never shuffled
    (hit ids return through an AQE-broadcast anti join). URLs derived
    deterministically from doc_id so the oracle replays the filter."""
    from cm_well_spark.operators.curation import url_filter
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    with_url = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://www.site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    return url_filter(
        with_url, ["site2.example.com", "site5.example.com"], url_col="url"
    )


@register(
    "sparql_xsd_constructors",
    oracle="""
    SELECT '/tpch/nation/' || n_nationkey AS x,
           CAST(n_nationkey AS VARCHAR) AS k,
           CAST(CAST(n_nationkey AS DOUBLE) / 2 AS VARCHAR) AS half,
           CASE WHEN n_nationkey < 2 THEN 'true' ELSE 'false' END AS small
    FROM nation WHERE n_nationkey < 5 ORDER BY x
    """,
)
def sparql_xsd_constructors(spark, sf_dir):
    """SPARQL 1.1 §17.5 XSD constructor functions (xsd:integer /
    xsd:double / xsd:string / xsd:boolean as casts through the typed num
    shadow — Jena's XSDFuncOp casting, invalid lexical -> unbound)."""
    from cm_well_spark.operators.sparql import sparql_query

    return sparql_query(
        _tri(spark, sf_dir),
        """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?x ?k ?half ?small WHERE {
          ?x <nationkey> ?v .
          BIND(xsd:string(xsd:integer(?v)) AS ?k)
          BIND(xsd:string(xsd:double(?v) / 2) AS ?half)
          BIND(IF(xsd:integer(?v) < 2, xsd:boolean("true"), xsd:boolean("false")) AS ?small)
          FILTER(xsd:integer(?v) < 5)
        } ORDER BY ?x
        """,
    )


@register(
    "format_jsonldq_lines",
    oracle="""
    SELECT '{"@id":"urn:x-cmwell:default","@graph":[{"@id":"cmwell://tpch/region/'
           || r_regionkey || '","name":[{"@value":"' || r_name || '"}]}]}' AS line
    FROM region
    """,
)
def format_jsonldq_lines(spark, sf_dir):
    """S9 jsonldq — the quad-aware JSON-LD flavor (JsonLDQFormatter,
    RDFFormatter.scala:686): row-parallel graph objects; quad-less
    values render into the default graph."""
    from cm_well_spark.formats.render import to_jsonldq

    tri = _tri(spark, sf_dir)
    sel = tri.where(
        F.col("current")
        & (F.col("p") == "name")
        & F.col("s").rlike("^/tpch/region/[0-9]+$")
    )
    return to_jsonldq(sel)


@register("similarity_pq_topk_batch")
def similarity_pq_topk_batch(spark, sf_dir):
    """Batched PQ ADC: N queries, one plan — per-query LUT computed as a
    column against the broadcast codebook literals, corpus scanned over
    its m-byte codes only, window top-k per query (the distributed
    FAISS batched-ADC shape). Approximate ranking -> rows-only; batched
    == single parity pinned by pytest."""
    from cm_well_spark.operators.similarity import pq_topk_batch
    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    queries = embs.orderBy("vec_id").limit(4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk_batch(embs, queries, k=10)


@register("similarity_ivfpq_topk_batch")
def similarity_ivfpq_topk_batch(spark, sf_dir):
    """Batched IVF-PQ + exact re-rank, one plan for N queries: coarse
    probe as a column vs centroid literals, candidate equi-join on cell,
    batched ADC over codes, broadcast re-rank join on the surviving
    pairs. Approximate candidate generation -> rows-only; recall and
    ordering pinned by pytest."""
    from cm_well_spark.operators.similarity import ivfpq_topk_batch
    from cm_well_spark.sources import tables as tbl

    embs = tbl.load_table(spark, sf_dir, "embeddings")
    queries = embs.orderBy("vec_id").limit(4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk_batch(embs, queries, k=10)


@register(
    "curation_dsir_topk",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id, ng FROM (
        SELECT doc_id, unnest(w) AS ng FROM d
        UNION ALL
        SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS ng
        FROM d
      ) WHERE ng <> ''
    ),
    bg AS (
      SELECT doc_id, ('0x' || substring(md5(ng), 1, 8))::BIGINT % 256 AS bucket FROM grams
    ),
    tfit AS (SELECT bucket, count(*) AS n FROM bg WHERE doc_id < 50 GROUP BY bucket),
    rfit AS (SELECT bucket, count(*) AS n FROM bg WHERE doc_id >= 50 GROUP BY bucket),
    tt AS (SELECT sum(n) AS t FROM tfit), rt AS (SELECT sum(n) AS t FROM rfit),
    pt AS (SELECT bucket, ln((n + 1) / (t + 256.0)) AS lp_t FROM tfit CROSS JOIN tt),
    pr AS (SELECT bucket, ln((n + 1) / (t + 256.0)) AS lp_r FROM rfit CROSS JOIN rt),
    docb AS (
      SELECT doc_id, bucket, count(*) AS c FROM bg WHERE doc_id >= 50 GROUP BY doc_id, bucket
    ),
    wts AS (
      SELECT doc_id,
             sum(c * (coalesce(lp_t, (SELECT ln(1.0 / (t + 256.0)) FROM tt))
                    - coalesce(lp_r, (SELECT ln(1.0 / (t + 256.0)) FROM rt)))) AS log_w
      FROM docb LEFT JOIN pt USING (bucket) LEFT JOIN pr USING (bucket)
      GROUP BY doc_id
    ),
    keyed AS (
      SELECT wts.doc_id, round(wts.log_w, 6) AS log_w,
             round(wts.log_w - ln(-ln(
               (('0x' || substring(md5('dsir:' || wts.doc_id), 1, 12))::BIGINT + 1.0)
               / {float(16**12) + 2.0})), 6) AS gumbel_key
      FROM wts
    )
    SELECT doc_id, log_w, gumbel_key FROM keyed ORDER BY gumbel_key DESC, doc_id LIMIT 100
    """,
)
def curation_dsir_topk(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169): hashed
    unigram+bigram bucket distributions fit on the target slice (doc_id <
    50) and the raw corpus (doc_id >= 50); per-doc importance weight
    log w = sum_b c_b * (ln p_t(b) - ln p_r(b)); Gumbel top-100 resample
    with md5-derived noise so membership is deterministic and the oracle
    replays it exactly. Both fits are <= 256 rows (broadcast); the corpus
    explodes once and folds per doc — no all-pairs stage."""
    from cm_well_spark.operators.curation import dsir_resample
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    return dsir_resample(
        docs.where(F.col("doc_id") >= 50), docs.where(F.col("doc_id") < 50), k=100
    )


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT doc_id, text, string_split({_NORM_SQL.format(c='text')}, ' ') AS w
      FROM documents WHERE doc_id < 300
    ), s AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(w) - 3, 0) + 2),
               i -> array_to_string(w[i:i+2], ' '))) AS shs
      FROM d
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.shs, b.shs)) * 1.0
            / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) >= 0.5
    ), e AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT doc_id AS id, doc_id AS r FROM d
      UNION
      SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id
    ), clusters AS (
      SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id
    ), q AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(string_split_regex(trim(lower(text)), '\\s+')) AS n_words,
             len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
             len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
             len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                 w -> w IN ('the','a','an','and','or','of','to','in','is','it',
                            'that','for','on','with','as'))) AS stop_hits
      FROM d
    ), scored AS (
      SELECT doc_id,
             least((n_alpha * 1.0 / greatest(n_chars, 1)) / 0.7, 1.0) * 0.4
             + least((stop_hits * 1.0 / greatest(n_words, 1)) / 0.3, 1.0) * 0.3
             + (CASE WHEN (n_chars - (n_words - 1)) * 1.0 / n_words BETWEEN 3 AND 10
                     THEN 1.0 ELSE 0.3 END) * 0.2
             + (CASE WHEN n_punct * 1.0 / greatest(n_chars, 1) <= 0.1
                     THEN 1.0 ELSE 0.5 END) * 0.1 AS quality
      FROM q
    ), ranked AS (
      SELECT c.cluster, c.doc_id, scored.quality,
             row_number() OVER (PARTITION BY c.cluster
                                ORDER BY scored.quality DESC, c.doc_id ASC) AS rn
      FROM clusters c JOIN scored USING (doc_id)
    )
    SELECT cluster, doc_id, round(quality, 6) AS best_quality
    FROM ranked WHERE rn = 1
    """,
)
def dedup_keep_best(spark, sf_dir):
    """Dedup with representative selection: near-dup clusters (jaccard
    pairs -> connected components) keep their HIGHEST-quality member —
    the real pipeline policy, vs dropping an arbitrary duplicate. The
    winner comes from a max(struct(quality, -id)) aggregate: ONE shuffle
    on the cluster label, no per-cluster window sort; ties break to the
    smallest doc id deterministically in both engines."""
    from cm_well_spark.operators.dedup import (
        duplicate_clusters,
        jaccard_pairs,
        keep_best_representative,
    )
    from cm_well_spark.operators.text import quality_score
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    pairs = jaccard_pairs(docs, threshold=0.5)
    clusters = duplicate_clusters(docs, pairs)
    return keep_best_representative(docs, clusters, quality_score(F.col("text")))


@register(
    "text_ppl_buckets",
    oracle=f"""
    WITH refd AS (
      SELECT string_split({_NORM_SQL.format(c='text')}, ' ') AS w
      FROM documents WHERE doc_id < 50
    ), corp AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS w
      FROM documents WHERE doc_id >= 50
    ), ref_toks AS (SELECT unnest(w) AS tok FROM refd),
    uni AS (SELECT tok, count(*) AS n_uni FROM ref_toks GROUP BY tok),
    total AS (SELECT count(*) AS t FROM ref_toks),
    ref_pairs AS (
      SELECT unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS p FROM refd
    ),
    bi AS (SELECT p[1] AS a, p[2] AS b, count(*) AS n_bi FROM ref_pairs GROUP BY 1, 2),
    doc_pairs AS (
      SELECT doc_id, u.p[1] AS a, u.p[2] AS b
      FROM corp, LATERAL (SELECT unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS p) u
    ),
    scored AS (
      SELECT d.doc_id,
             -log2(CASE WHEN bi.n_bi IS NOT NULL AND ua.n_uni IS NOT NULL
                        THEN bi.n_bi * 1.0 / ua.n_uni
                        ELSE 0.4 * coalesce(ub.n_uni, 0) / t END) AS nll
      FROM doc_pairs d
      LEFT JOIN bi ON d.a = bi.a AND d.b = bi.b
      LEFT JOIN uni ua ON d.a = ua.tok
      LEFT JOIN uni ub ON d.b = ub.tok
      CROSS JOIN total
    ),
    nll_r AS (
      SELECT doc_id, round(avg(nll), 6) AS bigram_nll
      FROM scored WHERE nll IS NOT NULL AND NOT isnan(nll) AND nll != 'infinity'
      GROUP BY doc_id
    ),
    th AS (
      SELECT quantile_cont(bigram_nll, 1.0/3) AS t1,
             quantile_cont(bigram_nll, 2.0/3) AS t2
      FROM nll_r
    )
    SELECT doc_id, bigram_nll,
           CASE WHEN bigram_nll <= t1 THEN 'head'
                WHEN bigram_nll <= t2 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM nll_r CROSS JOIN th
    """,
)
def text_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity strata (Wenzek et al. 2020):
    bigram-LM scores cut at the exact distribution terciles. Thresholds
    are one 2-double aggregate broadcast back over the corpus; at 100 TB
    the exact percentile swaps for approx_percentile (documented in
    perplexity_buckets) with no other plan change."""
    from cm_well_spark.operators.text import perplexity_buckets
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    return perplexity_buckets(
        docs.where(F.col("doc_id") >= 50), reference=docs.where(F.col("doc_id") < 50)
    )


@register(
    "text_winnow_fingerprints",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_NORM_SQL.format(c='text')} AS t
      FROM documents WHERE doc_id < 200
    ), g AS (
      SELECT doc_id, t, greatest(length(t) - 7, 1) AS ng FROM d
    ), h AS (
      SELECT doc_id, ng,
             list_transform(range(1, ng + 1),
               i -> struct_pack(fp := substring(md5(substring(t, i, 8)), 1, 8),
                                negpos := -i)) AS hs
      FROM g
    ), sel AS (
      SELECT doc_id,
             list_transform(range(1, greatest(ng - 3, 1) + 1),
               s -> list_sort(hs[s : s + 3])[1]) AS fps
      FROM h
    ), x AS (
      SELECT doc_id, unnest(fps) AS u FROM sel
    )
    SELECT DISTINCT doc_id, -(u.negpos) AS pos, u.fp AS fp FROM x
    """,
)
def text_winnow_fingerprints(spark, sf_dir):
    """Robust winnowing local fingerprints (Schleimer et al. 2003, the
    MOSS scheme): char-8-gram md5 hashes, window w=4, rightmost-min
    selection — (doc_id, pos, fp). All per-row array expressions, one
    explode; density ~2/(w+1) of the gram stream."""
    from cm_well_spark.operators.text import winnow_fingerprints
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return winnow_fingerprints(docs, k=8, w=4)


@register(
    "curation_gopher_rules",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN text || ' to of and that have with'
                  ELSE text END AS text
      FROM documents
    ), base AS (
      SELECT doc_id, text, trim(text) AS t,
             string_split_regex(trim(text), '\\s+') AS w,
             string_split(text, chr(10)) AS ln
      FROM aug
    ), f AS (
      SELECT doc_id,
             len(w) AS n_words,
             length(regexp_replace(t, '\\s+', '', 'g')) * 1.0 / greatest(len(w), 1) AS mean_wl,
             (len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.|…')))
               * 1.0 / greatest(len(w), 1) AS sym_ratio,
             len(list_filter(ln, l -> regexp_matches(l, '^\\s*[-*•]'))) * 1.0
               / greatest(len(ln), 1) AS bullet_frac,
             len(list_filter(ln, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$'))) * 1.0
               / greatest(len(ln), 1) AS ellipsis_frac,
             len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
               / greatest(len(w), 1) AS alpha_frac,
             len(list_intersect(list_distinct(list_transform(w, x -> lower(x))),
                 ['the','be','to','of','and','that','have','with'])) AS n_stop
      FROM base
    ), lc AS (
      SELECT doc_id, key, count(*) AS c
      FROM (SELECT doc_id, unnest(ln) AS key FROM base) GROUP BY 1, 2
    ), ls AS (
      SELECT doc_id,
             coalesce(sum(CASE WHEN c > 1 THEN c END) * 1.0 / sum(c), 0) AS dup_line_frac,
             coalesce(sum(CASE WHEN c > 1 THEN length(key) * c END) * 1.0
                      / sum(length(key) * c), 0) AS dup_line_char_frac
      FROM lc GROUP BY 1
    ), c2 AS (
      SELECT doc_id, key, count(*) AS c
      FROM (SELECT doc_id, unnest(list_transform(range(1, len(w)),
                   i -> array_to_string(w[i:i+1], ' '))) AS key
            FROM base WHERE len(w) >= 2) GROUP BY 1, 2
    ), t2 AS (
      SELECT doc_id, max(c) * 1.0 / sum(c) AS top_kgram_frac FROM c2 GROUP BY 1
    ), c5 AS (
      SELECT doc_id, key, count(*) AS c
      FROM (SELECT doc_id, unnest(list_transform(range(1, len(w) - 3),
                   i -> array_to_string(w[i:i+4], ' '))) AS key
            FROM base WHERE len(w) >= 5) GROUP BY 1, 2
    ), d5 AS (
      SELECT doc_id,
             coalesce(sum(CASE WHEN c > 1 THEN c END) * 1.0 / sum(c), 0) AS dup_kgram_frac
      FROM c5 GROUP BY 1
    ), j AS (
      SELECT f.*, coalesce(ls.dup_line_frac, 0) AS dup_line_frac,
             coalesce(ls.dup_line_char_frac, 0) AS dup_line_char_frac,
             coalesce(t2.top_kgram_frac, 0) AS top_kgram_frac,
             coalesce(d5.dup_kgram_frac, 0) AS dup_kgram_frac
      FROM f LEFT JOIN ls USING (doc_id) LEFT JOIN t2 USING (doc_id)
             LEFT JOIN d5 USING (doc_id)
    ), v AS (
      SELECT doc_id,
             CASE WHEN n_words < 30 THEN 'too_few_words'
                  WHEN n_words > 100000 THEN 'too_many_words'
                  WHEN mean_wl < 3 THEN 'short_words'
                  WHEN mean_wl > 10 THEN 'long_words'
                  WHEN sym_ratio > 0.1 THEN 'symbol_ratio'
                  WHEN bullet_frac > 0.9 THEN 'bullet_lines'
                  WHEN ellipsis_frac > 0.3 THEN 'ellipsis_lines'
                  WHEN alpha_frac < 0.8 THEN 'non_alpha_words'
                  WHEN n_stop < 2 THEN 'few_stop_words'
                  WHEN dup_line_frac > 0.30 THEN 'dup_lines'
                  WHEN dup_line_char_frac > 0.20 THEN 'dup_line_chars'
                  WHEN top_kgram_frac > 0.20 THEN 'top_2gram'
                  WHEN dup_kgram_frac > 0.15 THEN 'dup_5gram'
                  ELSE 'ok' END AS reason
      FROM j
    )
    SELECT doc_id, reason, reason = 'ok' AS keep FROM v
    """,
)
def curation_gopher_rules(spark, sf_dir):
    """Gopher/MassiveText document rule filter (Rae et al. 2021, Table
    A1): word-count bounds, mean word length, symbol ratio, bullet /
    ellipsis line fractions, alpha-word fraction, the 8-stop-word gate,
    and the four repetition thresholds — first failing rule labels the
    doc. Even doc_ids get the stop-word suffix appended so the gate
    passes and the downstream rules are exercised too. Scalar rules ride
    the scan; repetition signals are the only shuffle."""
    from cm_well_spark.operators.curation import gopher_rules
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.col("text"), F.lit(" to of and that have with")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return gopher_rules(aug, min_words=30)


@register(
    "curation_boilerplate_removal",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text || chr(10) || 'Copyright © 2024 Example Corp. All rights reserved.'
                  || chr(10) || '- menu item'
                  || chr(10) || 'the point is that each of these lines ought to be kept and that is that'
                  || chr(10) || 'tiny line' AS text
      FROM documents
    ), base AS (SELECT doc_id, string_split(text, chr(10)) AS ln FROM aug),
    k AS (
      SELECT doc_id,
             list_filter(ln, l ->
               len(string_split_regex(trim(l), '\\s+')) >= 5
               AND len(list_filter(string_split_regex(trim(l), '\\s+'),
                       x -> regexp_matches(x, '[A-Za-z]')))
                   * 1.0 / greatest(len(string_split_regex(trim(l), '\\s+')), 1) >= 0.5
               AND NOT (contains(lower(l), 'all rights reserved')
                        OR contains(lower(l), 'cookie')
                        OR contains(lower(l), 'terms of service')
                        OR contains(lower(l), 'privacy policy')
                        OR contains(lower(l), 'copyright')
                        OR contains(lower(l), '©'))
               AND (len(string_split_regex(trim(l), '\\s+')) >= 20
                    OR len(list_filter(string_split_regex(trim(l), '\\s+'),
                           x -> lower(x) IN ('the','be','to','of','and','that','have','with')))
                       * 1.0 / greatest(len(string_split_regex(trim(l), '\\s+')), 1) >= 0.2)
             ) AS kept,
             len(ln) AS n_lines
      FROM base
    )
    SELECT doc_id, coalesce(array_to_string(kept, chr(10)), '') AS text,
           len(kept) AS n_kept, n_lines - len(kept) AS n_dropped
    FROM k
    """,
)
def curation_boilerplate_removal(spark, sf_dir):
    """jusText-lite boilerplate line removal (Pomikalek 2011): per-line
    word count / alpha ratio / marker phrases / stopword-density rules,
    survivors re-joined in order — (doc_id, text, n_kept, n_dropped).
    The entry appends a deterministic web-chrome tail (copyright line,
    bullet, content line, short line) to every doc so each rule branch is
    exercised. One codegen'd projection: split -> filter -> array_join in
    higher-order array functions, zero shuffle, zero explode."""
    from cm_well_spark.operators.curation import boilerplate_removal
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(
                "\nCopyright © 2024 Example Corp. All rights reserved."
                "\n- menu item"
                "\nthe point is that each of these lines ought to be kept and that is that"
                "\ntiny line"
            ),
        ).alias("text"),
    )
    return boilerplate_removal(aug)


@register(
    "dedup_incremental_batch",
    oracle=f"""
    WITH newd AS (
      SELECT doc_id, text FROM documents WHERE doc_id >= 250
      UNION ALL
      SELECT doc_id + 100000000, text FROM documents WHERE doc_id < 5
    ), seend AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 250
    ), nh AS (
      SELECT doc_id, md5({_NORM_SQL.format(c='text')}) AS h FROM newd
    ), sh AS (
      SELECT DISTINCT md5({_NORM_SQL.format(c='text')}) AS h FROM seend
    ), exact AS (
      SELECT DISTINCT doc_id FROM nh JOIN sh USING (h)
    ), nw AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS w FROM newd
    ), sw AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS w FROM seend
    ), ns AS (
      SELECT doc_id, list_distinct(list_transform(
               range(1, greatest(len(w) - 3, 0) + 2),
               i -> array_to_string(w[i:i+2], ' '))) AS shs
      FROM nw
    ), ss AS (
      SELECT doc_id, list_distinct(list_transform(
               range(1, greatest(len(w) - 3, 0) + 2),
               i -> array_to_string(w[i:i+2], ' '))) AS shs
      FROM sw
    ), near AS (
      SELECT DISTINCT a.doc_id
      FROM ns a JOIN ss b
        ON len(list_intersect(a.shs, b.shs)) * 1.0
           / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) >= 0.5
    )
    SELECT n.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS verdict
    FROM newd n
    LEFT JOIN exact e ON n.doc_id = e.doc_id
    LEFT JOIN near nr ON n.doc_id = nr.doc_id
    """,
)
def dedup_incremental_batch(spark, sf_dir):
    """Incremental dedup — the steady-state crawl pattern: a fresh batch
    (doc_id >= 250, plus 5 re-keyed copies of seen docs so the exact
    stage fires) is checked against the already-ingested corpus (doc_id
    < 250). Exact stage = semi-join on md5 of normalized text; near
    stage = shingle equi-join + exact per-pair jaccard >= 0.5. At scale
    the seen side is its precomputed signature table — the store is
    never self-joined, and each batch costs two equi-joins."""
    from cm_well_spark.operators.dedup import incremental_dedup_verdicts
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") >= 250).unionByName(
        docs.where(F.col("doc_id") < 5).select(
            (F.col("doc_id") + 100000000).alias("doc_id"),
            *[c for c in docs.columns if c != "doc_id"],
        )
    )
    seen = docs.where(F.col("doc_id") < 250)
    return incremental_dedup_verdicts(new, seen, threshold=0.5)


@register(
    "pack_stats",
    oracle="""
    WITH t AS (
      SELECT len(regexp_extract_all(trim(text), '\\S+')) AS n_tok FROM documents
    )
    SELECT count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           quantile_cont(n_tok, 0.5) AS p50_tokens,
           quantile_cont(n_tok, 0.9) AS p90_tokens,
           max(n_tok) AS max_tokens,
           round((sum(ceil(n_tok / 64.0) * 64) - sum(n_tok))
                 / sum(ceil(n_tok / 64.0) * 64), 6) AS pad_waste_frac_unpacked,
           CAST(ceil(sum(n_tok) / 64.0) AS BIGINT) AS n_seqs_packed,
           CAST(sum(ceil(n_tok / 64.0)) AS BIGINT) AS n_seqs_unpacked
    FROM t
    """,
)
def pack_stats(spark, sf_dir):
    """Pre-packing corpus accounting at context 64: totals, exact token
    percentiles, naive-padding waste fraction, and the packed sequence
    lower bound — one map-side-combining aggregate row."""
    from cm_well_spark.operators.packing import packing_stats
    from cm_well_spark.sources import tables as tbl

    return packing_stats(tbl.load_table(spark, sf_dir, "documents"), context_len=64)


@register("multimodal_image_dedup",
    oracle=_BANDED_HAMMING_ORACLE.format(
        values=_fixture_hash_values("img16", 50), mod=50, limit=200, max_distance=3
    ),
)
def multimodal_image_dedup(spark, sf_dir):
    """Image near-dup pairs via perceptual dHash — hash-matched (r8):
    the fake-codec fixture is deterministic, so the oracle inlines the
    precomputed per-seed dHashes as a VALUES literal and replays the
    BRUTE-FORCE all-pairs Hamming answer; a match also proves the
    pigeonhole banding dropped no pair. 200 patterned IMG1 images with
    seed = doc_id % 50 give 4-member identical groups; hashes meet
    through pigeonhole 16-bit block buckets, candidates pay one popcount
    — the multimodal twin of text simhash, same plan at 100 TB."""
    import pandas as pd
    import pyspark.sql.types as T

    from cm_well_spark.operators.multimodal import (
        fake_image_pattern,
        image_dhash,
        image_dup_pairs,
    )
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200).select("doc_id")

    def gen(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "id": pdf["doc_id"],
                    "data": [fake_image_pattern(16, 16, 3, seed=int(i) % 50) for i in pdf["doc_id"]],
                }
            )

    imgs = docs.mapInPandas(
        gen, T.StructType([T.StructField("id", T.LongType()), T.StructField("data", T.BinaryType())])
    )
    return image_dup_pairs(image_dhash(imgs), max_distance=3)


@register(
    "multimodal_audio_dedup",
    oracle=_BANDED_HAMMING_ORACLE.format(
        values=_fixture_hash_values("aud", 50), mod=50, limit=200, max_distance=3
    ),
)
def multimodal_audio_dedup(spark, sf_dir):
    """Audio near-dup pairs via the energy-contrast fingerprint —
    hash-matched (r8): precomputed per-seed fingerprints inlined as a
    VALUES literal, oracle replays brute-force all-pairs Hamming
    (fake/WAV codec parity stays pytest-pinned). 200 patterned AUD1
    clips with seed = doc_id % 50 — same banded Hamming plan as images,
    300 expected pairs."""
    import pandas as pd
    import pyspark.sql.types as T

    from cm_well_spark.operators.multimodal import (
        audio_fingerprint,
        fake_audio_pattern,
        image_dup_pairs,
    )
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200).select("doc_id")

    def gen(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "id": pdf["doc_id"],
                    "data": [fake_audio_pattern(8000, 2000, seed=int(i) % 50) for i in pdf["doc_id"]],
                }
            )

    clips = docs.mapInPandas(
        gen, T.StructType([T.StructField("id", T.LongType()), T.StructField("data", T.BinaryType())])
    )
    return image_dup_pairs(audio_fingerprint(clips), max_distance=3)


@register(
    "multimodal_video_dedup",
    oracle="""
    WITH hmap(seed, h) AS (VALUES {values}),
    vf AS (
      SELECT DISTINCT d.doc_id AS id, m.h
      FROM documents d JOIN hmap m
        ON m.seed BETWEEN 2 * d.doc_id AND 2 * d.doc_id + 3
      WHERE d.doc_id < 100
    )
    SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
    FROM vf a JOIN vf b ON a.h = b.h AND a.id < b.id
    GROUP BY a.id, b.id
    HAVING count(*) >= 2
    """.format(values=_fixture_hash_values("img8", 202)),
)
def multimodal_video_dedup(spark, sf_dir):
    """Video near-dup pairs by shared sampled-frame dHashes —
    hash-matched (r8): per-frame-seed dHashes inlined as a VALUES
    literal, oracle independently recounts shared distinct hashes.
    100 four-frame clips built so clip i shares exactly 2 frames with
    clip i+1 (frame seeds 2i..2i+3) — a sliding chain, so every adjacent
    pair and only adjacent pairs meet the min_shared=2 bar. Frames meet
    through 64-bit hash equi-joins; never all-pairs."""
    import pandas as pd
    import pyspark.sql.types as T

    from cm_well_spark.operators.multimodal import fake_image_pattern, video_dup_pairs
    from cm_well_spark.sources import tables as tbl

    docs = tbl.load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100).select("doc_id")

    def gen(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "id": pdf["doc_id"],
                    "data": [
                        b"".join(
                            fake_image_pattern(8, 8, 3, seed=2 * int(i) + k) for k in range(4)
                        )
                        for i in pdf["doc_id"]
                    ],
                }
            )

    vids = docs.mapInPandas(
        gen, T.StructType([T.StructField("id", T.LongType()), T.StructField("data", T.BinaryType())])
    )
    return video_dup_pairs(vids, min_shared=2)


