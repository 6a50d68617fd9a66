"""Driver-contract query registry.

Every implemented operator from SURVEY.md §2 registers here as a
(spark, sf_dir) -> DataFrame callable plus (where SQL-expressible) a DuckDB
oracle SQL string over the raw test tables. Where part of an answer is not
SQL-expressible, the oracle is a callable of sf_dir that inlines values from
an independent twin in oracle_twins.py, computed from that sf_dir's tables.
The correctness gate hash-compares them at sf0.01 (CORRECTNESS_r{N}.json);
tools/check_oracle.py does so at any scale factor; bench.py times the
headline subset at sf0.1.

Conventions that keep the hash-compare honest:
  - every output column aliased identically in Spark and SQL;
  - doubles that aggregate get ROUND(x, 2) on both sides;
  - timestamps surface as DATE or ISO strings on both sides.
"""


from __future__ import annotations


import os


from collections.abc import Callable, Iterable


from pyspark.sql import Column, DataFrame, SparkSession


from pyspark.sql import functions as F


from cm_well_spark.model import fieldvals as fv


from cm_well_spark.model.lakehouse import load_infotons, load_triples


from cm_well_spark.operators import search as S


from cm_well_spark.plans.iterative import iter_checkpoint


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}


# an oracle is SQL text, or a callable of sf_dir for the oracles whose twin
# values are computed from the tables at that scale factor
ORACLES: dict[str, str | Callable[[str], str]] = {}


def _squash(sql: str) -> str:
    return " ".join(sql.split())


def register(name: str, oracle: str | Callable[[str], str] | None = None):
    def deco(fn):
        # a duplicate name would silently SHADOW the earlier entry in
        # queries()/oracle_sql() — fail loudly at import instead
        if name in QUERIES:
            raise ValueError(f"registry entry {name!r} already registered")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle if callable(oracle) else _squash(oracle)
        return fn

    return deco


def _twin(name: str, sf_dir: str) -> str:
    """VALUES text of one oracle twin at sf_dir. The twins are independent
    reference implementations kept outside the package, in oracle_twins.py
    at the repository root; only oracle_sql() reaches them."""
    import oracle_twins

    return getattr(oracle_twins, name)(sf_dir)


def _inf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_infotons(spark, sf_dir)


def _tri(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_triples(spark, sf_dir)


def _stats(spark: SparkSession, sf_dir: str) -> dict:
    from cm_well_spark.model.lakehouse import load_predicate_stats

    return load_predicate_stats(spark, sf_dir)


def _gate_rotation() -> int:
    """Round counter for the correctness-gate window rotation: the
    number of CORRECTNESS_r*.json artifacts already in the repo root
    (deterministic, grows by one per driver round)."""
    import glob
    import os

    # repo root: this file moved one level deeper in the r11 package split
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return len(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry in gate order (VERDICT r8 item 6): the driver's
    correctness gate checks the FIRST 50 entries, which in registration
    order were all r1-era search/agg ops — newer tranches were only
    verified by the judge's own full-matrix rerun. The returned dict
    therefore interleaves operator FAMILIES round-robin (family = name
    prefix) and rotates both the family start order and each family's
    internal offset by the round counter, so every round's 50-entry
    window samples across all tranches and shifts membership each
    round. read_point and merge_writer_current stay pinned first as
    permanent sentinels. tools/check_oracle.py covers every entry."""
    sentinels = [n for n in ("read_point", "merge_writer_current") if n in QUERIES]
    rest = [n for n in QUERIES if n not in sentinels]
    fams: dict[str, list[str]] = {}
    for n in rest:
        fams.setdefault(n.split("_", 1)[0], []).append(n)
    r = _gate_rotation()
    fam_keys = sorted(fams)
    shift = r % len(fam_keys) if fam_keys else 0
    fam_keys = fam_keys[shift:] + fam_keys[:shift]
    rotated = {k: fams[k][r % len(fams[k]) :] + fams[k][: r % len(fams[k])] for k in fam_keys}
    ordered: list[str] = []
    depth = 0
    while len(ordered) < len(rest):
        for k in fam_keys:
            if depth < len(rotated[k]):
                ordered.append(rotated[k][depth])
        depth += 1
    return {n: QUERIES[n] for n in sentinels + ordered}


def oracle_sql(sf_dir: str, names: Iterable[str] | None = None) -> dict[str, str]:
    """DuckDB oracle SQL per entry (every entry, or those in `names`) over
    the raw tables in sf_dir. sf_dir is the directory the oracle will run
    on: the twin-backed oracles inline values computed from its tables,
    so resolving only the entries a caller runs skips the other twins."""
    wanted = ORACLES if names is None else {n: ORACLES[n] for n in names if n in ORACLES}
    return {n: o if isinstance(o, str) else _squash(o(sf_dir)) for n, o in wanted.items()}


def _merge_fixture(spark, sf_dir):
    from datetime import datetime

    from cm_well_spark.operators.merge import COMMAND_SCHEMA, apply_commands

    def sfv(v):
        return {"value": v, "vtype": "s", "lang": None, "quad": None, "num": None, "ts": None, "bool": None}

    lm = datetime(2024, 1, 1)
    rows = [
        ("/tpch/region/0", 1, "write", {"extra": [sfv("e1")]}, None, lm, "https"),
        ("/tpch/region/0", 2, "write", {"extra": [sfv("e2")]}, None, lm, "https"),
        ("/tpch/region/1", 1, "delete_attributes", None, {"name": []}, lm, "https"),
        ("/tpch/region/2", 1, "delete_path", None, None, lm, "https"),
        ("/tpch/region/2", 2, "write", {"name": [sfv("REBORN")]}, None, lm, "https"),
        ("/tpch/region/99", 1, "write", {"name": [sfv("NEWREGION")]}, None, lm, "https"),
    ]
    cmds = spark.createDataFrame(rows, COMMAND_SCHEMA)
    return apply_commands(_inf(spark, sf_dir), cmds)


_FEED_NOW = 1_800_000_000_000  # fixed 'now' so the 10s watermark is deterministic


_NORM_SQL = "trim(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g'))"


def _query_vec(spark, sf_dir):
    from cm_well_spark.sources import tables as tbl

    row = tbl.load_table(spark, sf_dir, "embeddings").orderBy("vec_id").first()
    return [float(x) for x in row["embedding"]]


def _srp_bucket_sql(var: str = "v") -> str:
    """The SRP bucket as a SQL expression over a double-list column —
    the LCG planes inline as literals (bit i = sign(v . plane_i))."""
    from cm_well_spark.operators.similarity import _planes

    terms = []
    for i, p in enumerate(_planes(64, 6)):
        lit = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        terms.append(f"(CASE WHEN list_dot_product({var}, {lit}) > 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(terms)


def _lsh_batch_oracle_sql(k: int = 5, n_queries: int = 4) -> str:
    """lsh_topk_batch replayed in SQL: buckets from the literal planes,
    candidate = bucket equi-join, <k guard via candidate counts, both
    branches ranked (cosine-6dp DESC, id ASC) — same machinery the
    recall-eval oracle replays, emitting the per-query top-k rows."""
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
    b AS (SELECT vec_id, v, CAST({_srp_bucket_sql()} AS BIGINT) AS bucket FROM e),
    q AS (SELECT vec_id AS qid, v AS qv, bucket FROM b ORDER BY vec_id LIMIT {n_queries}),
    cand AS (
      SELECT q.qid, b.vec_id, round(list_cosine_similarity(b.v, q.qv), 6) AS cosine
      FROM b JOIN q ON b.bucket = q.bucket
    ),
    cand_rk AS (
      SELECT qid, vec_id, cosine,
             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rn
      FROM cand
    ),
    enough AS (SELECT qid FROM cand GROUP BY qid HAVING count(*) >= {k}),
    full_rk AS (
      SELECT q.qid, e.vec_id, round(list_cosine_similarity(e.v, q.qv), 6) AS cosine,
             row_number() OVER (
               PARTITION BY q.qid
               ORDER BY round(list_cosine_similarity(e.v, q.qv), 6) DESC, e.vec_id ASC
             ) AS rn
      FROM e, q
    )
    SELECT qid AS query_id, vec_id, cosine FROM cand_rk
    WHERE rn <= {k} AND qid IN (SELECT qid FROM enough)
    UNION ALL
    SELECT qid AS query_id, vec_id, cosine FROM full_rk
    WHERE rn <= {k} AND qid NOT IN (SELECT qid FROM enough)
    """


def _ann_recall_oracle_sql(k: int = 5, n_queries: int = 8) -> str:
    """The whole recall@k evaluation replayed in SQL: SRP buckets from
    the literal LCG planes (same idiom as _srp_oracle_sql), candidate =
    bucket equi-join, the <k recall guard as a NOT IN over candidate
    counts, both rankings ordered (round(cos,6) DESC, vec_id ASC)."""
    from cm_well_spark.operators.similarity import _planes

    planes = _planes(64, 6)
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        terms.append(f"(CASE WHEN list_dot_product(v, {lit}) > 0 THEN {1 << i} ELSE 0 END)")
    bucket = " + ".join(terms)
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
    b AS (SELECT vec_id, v, CAST({bucket} AS BIGINT) AS bucket FROM e),
    q AS (SELECT vec_id AS qid, v AS qv, bucket FROM b WHERE vec_id < {n_queries}),
    cand AS (
      SELECT q.qid, b.vec_id, round(list_cosine_similarity(b.v, q.qv), 6) AS cos
      FROM b JOIN q ON b.bucket = q.bucket
    ),
    cand_rk AS (
      SELECT qid, vec_id,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rn
      FROM cand
    ),
    enough AS (SELECT qid FROM cand GROUP BY qid HAVING count(*) >= {k}),
    full_rk AS (
      SELECT q.qid, e.vec_id,
             row_number() OVER (
               PARTITION BY q.qid
               ORDER BY round(list_cosine_similarity(e.v, q.qv), 6) DESC, e.vec_id ASC
             ) AS rn
      FROM e, q
    ),
    ann AS (
      SELECT qid, vec_id FROM cand_rk WHERE rn <= {k} AND qid IN (SELECT qid FROM enough)
      UNION ALL
      SELECT qid, vec_id FROM full_rk WHERE rn <= {k} AND qid NOT IN (SELECT qid FROM enough)
    ),
    exact AS (SELECT qid, vec_id FROM full_rk WHERE rn <= {k}),
    hits AS (
      SELECT a.qid, count(*) AS n_hits
      FROM ann a JOIN exact x ON a.qid = x.qid AND a.vec_id = x.vec_id
      GROUP BY a.qid
    )
    SELECT q.qid AS query_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(coalesce(h.n_hits, 0) / {k}.0, 6) AS recall
    FROM q LEFT JOIN hits h ON q.qid = h.qid
    """


def _srp_oracle_sql() -> str:
    """SRP bucket assignment replayed in SQL: the LCG planes are
    deterministic Python floats, so they inline as literals — bit i of
    the bucket = sign(v . plane_i), exactly srp_bucket's formula."""
    from cm_well_spark.operators.similarity import _planes

    planes = _planes(64, 6)
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(v, {lit}) > 0 THEN {1 << i} ELSE 0 END)"
        )
    bucket = " + ".join(terms)
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
    SELECT vec_id, CAST({bucket} AS BIGINT) AS bucket FROM e
    """


def _fixture_hash_values(kind: str, n_seeds: int) -> str:
    """VALUES literal (seed, fingerprint) for the multimodal dedup
    oracles. The fake-codec fixtures are deterministic end-to-end, so
    the per-seed 64-bit dHash / audio fingerprint can be precomputed
    HERE (pure numpy, import-time, no Spark) and inlined — graduating
    the multimodal dedup entries from rows-only to hash-matched: the
    oracle then independently replays the brute-force all-pairs Hamming
    answer, which also proves the pigeonhole banding lost no pair."""
    import struct

    import numpy as np

    def _img_arr(b: bytes):
        h, w, c = struct.unpack(">IIB", b[4:13])
        return np.frombuffer(b, dtype=np.uint8, offset=13).reshape(h, w, c)

    rows = []
    if kind in ("img16", "img8"):
        from cm_well_spark.operators.multimodal import _dhash64, fake_image_pattern

        side = 16 if kind == "img16" else 8
        for seed in range(n_seeds):
            rows.append((seed, _dhash64(_img_arr(fake_image_pattern(side, side, 3, seed=seed)))))
    elif kind == "aud":
        from cm_well_spark.operators.multimodal import (
            _afp64,
            _audio_samples_fake,
            fake_audio_pattern,
        )

        for seed in range(n_seeds):
            rows.append((seed, _afp64(_audio_samples_fake(fake_audio_pattern(8000, 2000, seed=seed)))))
    else:
        raise ValueError(kind)
    return ", ".join(f"({sd}, CAST({h} AS BIGINT))" for sd, h in rows)


_BANDED_HAMMING_ORACLE = """
    WITH hmap(seed, h) AS (VALUES {values}),
    items AS (
      SELECT d.doc_id AS id, m.h
      FROM documents d JOIN hmap m ON d.doc_id % {mod} = m.seed
      WHERE d.doc_id < {limit}
    )
    SELECT a.id AS id_a, b.id AS id_b, bit_count(xor(a.h, b.h)) AS distance
    FROM items a JOIN items b ON a.id < b.id
    WHERE bit_count(xor(a.h, b.h)) <= {max_distance}
"""


_LINK_EDGE_SQL = """
    WITH li AS (
      SELECT '/tpch/lineitem/' || l_orderkey || '-' || l_linenumber || '-' ||
             row_number() OVER (PARTITION BY l_orderkey, l_linenumber
               ORDER BY l_quantity, l_extendedprice, l_discount, l_tax,
                        l_shipdate, l_partkey, l_suppkey) AS src,
             l_orderkey, l_partkey, l_suppkey
      FROM lineitem
    ),
    edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, '/tpch/orders/' || l_orderkey AS dst FROM li
        UNION ALL
        SELECT src, '/tpch/part/' || l_partkey FROM li
        UNION ALL
        SELECT src, '/tpch/supplier/' || l_suppkey FROM li
        UNION ALL
        SELECT '/tpch/orders/' || o_orderkey, '/tpch/customer/' || o_custkey FROM orders
        UNION ALL
        SELECT '/tpch/customer/' || c_custkey, '/tpch/nation/' || c_nationkey FROM customer
        UNION ALL
        SELECT '/tpch/supplier/' || s_suppkey, '/tpch/nation/' || s_nationkey FROM supplier
        UNION ALL
        SELECT '/tpch/nation/' || n_nationkey, '/tpch/region/' || n_regionkey FROM nation
      )
    )
"""


_PR_STEP_SQL = """
    SELECT n.path,
           CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) * COALESCE(c.contrib, 0) AS rank
    FROM nodes n LEFT JOIN (
      SELECT e.dst AS path, SUM(r.rank / d.odeg) AS contrib
      FROM edges e JOIN {prev} r ON r.path = e.src JOIN deg d ON d.src = e.src
      GROUP BY 1
    ) c ON c.path = n.path
"""


_BINCODE_SQL = """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    codes AS (
      SELECT vec_id,
             list_transform(range(0, 2), j ->
               list_reduce(
                 list_transform(v[j * 32 + 1 : j * 32 + 32],
                                x -> CASE WHEN x > 0 THEN CAST(1 AS BIGINT)
                                          ELSE CAST(0 AS BIGINT) END),
                 (acc, x) -> acc * 2 + x)) AS code
      FROM e
    )
"""


def _span_sql(where: str, salt: str, stride: int, span_len: int, thr: str, denoiser: str) -> str:
    """One UL2/T5 span-corruption branch as SQL (the templated form of
    the pack_span_corruption oracle)."""
    return f"""
    SELECT doc_id, '{denoiser}' AS denoiser,
           coalesce(array_to_string(list_filter(list_transform(range(0, n), i ->
             CASE WHEN len(list_filter(cands, c2 -> c2 * {stride} = i)) > 0
                  THEN '<extra_id_' || len(list_filter(cands, c2 -> c2 * {stride} < i)) || '>'
                  WHEN len(list_filter(cands,
                           c2 -> c2 * {stride} <= i AND i < c2 * {stride} + {span_len})) > 0
                  THEN ''
                  ELSE w[i + 1] END),
             t -> t <> ''), ' '), '') AS inputs,
           array_to_string(list_append(
             list_transform(cands, c2 ->
               '<extra_id_' || len(list_filter(cands, c3 -> c3 < c2)) || '> ' ||
               array_to_string(w[c2 * {stride} + 1 : c2 * {stride} + {span_len}], ' ')),
             '<extra_id_' || len(cands) || '>'), ' ') AS targets
    FROM (
      SELECT doc_id, w, n,
             list_filter(range(0, CAST(ceil(n / {stride}.0) AS BIGINT)),
               c -> substring(md5('{salt}:' || doc_id || ':' || c), 1, 4) < '{thr}'
                    AND c * {stride} < n) AS cands
      FROM (SELECT doc_id, string_split(text, ' ') AS w,
                   len(string_split(text, ' ')) AS n
            FROM documents WHERE {where})
    )"""


def _clf_weights(dim: int = 256) -> list[float]:
    x, out = 123456789, []
    for _ in range(dim):
        x = (1103515245 * x + 12345) % (1 << 31)
        out.append(round(x / float(1 << 31) * 2.0 - 1.0, 6))
    return out


_CLF_W = _clf_weights()


_CLF_VALUES = ", ".join(f"({i}, {w})" for i, w in enumerate(_CLF_W))


def _script_oracle_sql() -> str:
    from cm_well_spark.operators.text import SCRIPT_RANGES

    names = sorted(SCRIPT_RANGES)
    counts = ",\n             ".join(
        "CAST(length(text) - length(regexp_replace(text, '[{r}]', '', 'g')) AS BIGINT)"
        " AS n_{s}".format(r=SCRIPT_RANGES[s], s=s)
        for s in names
    )
    mx = "greatest({})".format(", ".join(f"n_{s}" for s in names))
    dominant = "\n                ".join(
        f"WHEN n_{s} = {mx} THEN '{s}'" for s in names
    )
    return f"""
    WITH c AS (
      SELECT doc_id,
             {counts},
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT *,
           CASE WHEN {mx} = 0 THEN 'und'
                {dominant}
           END AS script
    FROM (SELECT doc_id, {", ".join(f"n_{s}" for s in names)}, n_chars FROM c) t
    """


_OP_EDGE_SQL = """
    WITH e AS (
      SELECT DISTINCT '/tpch/orders/' || l_orderkey AS src,
             '/tpch/part/' || l_partkey AS dst
      FROM lineitem WHERE l_orderkey < 300
    )"""


def _op_edges(spark, sf_dir):
    """Spark twin of _OP_EDGE_SQL: order—part edges composed from the two
    lineitem link-edge sets (the same affiliation-closure move as the
    graph_triangles entry), sliced on the order key parsed from the
    order path."""
    from cm_well_spark.operators.graph import reference_edges

    tri = _tri(spark, sf_dir)
    # the slice predicate sits BELOW the join (on the ofOrder edge set's
    # target key), so at 10-100x the join carries only the slice's
    # lineitems, not the whole corpus
    lo = reference_edges(tri, ["ofOrder"]).where(
        F.element_at(F.split(F.col("dst"), "/"), -1).cast("long") < 300
    )
    lp = reference_edges(tri, ["ofPart"])
    return (
        lo.alias("l")
        .join(lp.alias("r"), F.col("l.src") == F.col("r.src"))
        .select(F.col("l.dst").alias("src"), F.col("r.dst").alias("dst"))
        .distinct()
    )


def _kcore_oracle(rounds: int = 11, k: int = 2) -> str:
    # every peel round reads the previous one twice: without MATERIALIZED,
    # DuckDB inlines the chain into ~2^rounds copies of the plan
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f"""
    s{i} AS MATERIALIZED (
      SELECT s.src AS node, CAST(count(*) AS BIGINT) AS degree
      FROM sym s JOIN s{i - 1} a ON s.src = a.node JOIN s{i - 1} b ON s.dst = b.node
      GROUP BY s.src HAVING count(*) >= {k}
    )""")
    return (
        _OP_EDGE_SQL
        + f""",
    sym AS MATERIALIZED (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    s0 AS MATERIALIZED (
      SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
      FROM sym GROUP BY src HAVING count(*) >= {k}
    ),"""
        + ",".join(steps)
        + f"""
    SELECT node, degree FROM s{rounds}
    """
    )


def _knn_oracle_sql(k: int = 3) -> str:
    """knn_graph replayed in SQL: SRP buckets from the inlined LCG plane
    literals (the _srp_oracle_sql recipe), bucket self-join, round-6
    cosine, row_number window with the dst tie-break."""
    from cm_well_spark.operators.similarity import _planes

    planes = _planes(64, 6)
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(v, {lit}) > 0 THEN {1 << i} ELSE 0 END)"
        )
    bucket = " + ".join(terms)
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    b AS (
      SELECT vec_id,
             CASE WHEN sqrt(list_dot_product(v, v)) <> 0
                  THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
                  ELSE v END AS nv,
             CAST({bucket} AS BIGINT) AS bucket
      FROM e
    ),
    p AS (
      SELECT l.vec_id AS src, r.vec_id AS dst,
             round(list_dot_product(l.nv, r.nv), 6) AS cosine
      FROM b l JOIN b r USING (bucket) WHERE l.vec_id <> r.vec_id
    )
    SELECT src, dst, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rank
      FROM p
    ) WHERE rank <= {k}
    """


def _sp_weighted_oracle() -> str:
    return """
    WITH e AS (
      SELECT '/tpch/orders/' || l_orderkey AS src,
             '/tpch/part/' || l_partkey AS dst,
             CAST(l_quantity AS DOUBLE) AS w
      FROM lineitem WHERE l_orderkey < 300
    ),
    sym AS (SELECT src, dst, w FROM e UNION ALL SELECT dst, src, w FROM e),
    d0 AS (SELECT * FROM (VALUES ('/tpch/orders/1', CAST(0 AS DOUBLE)),
                                 ('/tpch/orders/2', CAST(0 AS DOUBLE))) v(path, distance)),
    d1 AS (
      SELECT path, min(distance) AS distance FROM (
        SELECT e.dst AS path, d.distance + e.w AS distance
        FROM sym e JOIN d0 d ON e.src = d.path
        UNION ALL SELECT path, distance FROM d0
      ) GROUP BY path
    ),
    d2 AS (
      SELECT path, min(distance) AS distance FROM (
        SELECT e.dst AS path, d.distance + e.w AS distance
        FROM sym e JOIN d1 d ON e.src = d.path
        UNION ALL SELECT path, distance FROM d1
      ) GROUP BY path
    ),
    d3 AS (
      SELECT path, min(distance) AS distance FROM (
        SELECT e.dst AS path, d.distance + e.w AS distance
        FROM sym e JOIN d2 d ON e.src = d.path
        UNION ALL SELECT path, distance FROM d2
      ) GROUP BY path
    ),
    d4 AS (
      SELECT path, min(distance) AS distance FROM (
        SELECT e.dst AS path, d.distance + e.w AS distance
        FROM sym e JOIN d3 d ON e.src = d.path
        UNION ALL SELECT path, distance FROM d3
      ) GROUP BY path
    )
    SELECT path, round(distance, 6) AS distance FROM d4
    """


_PPR_SEEDS = ("/tpch/customer/1", "/tpch/customer/2")


_PPR_STEP_SQL = """
    SELECT n.path,
           CASE WHEN n.path IN ('/tpch/customer/1', '/tpch/customer/2')
                THEN CAST(0.15 AS DOUBLE) / 2 ELSE CAST(0 AS DOUBLE) END
           + CAST(0.85 AS DOUBLE) * COALESCE(c.contrib, 0) AS rank
    FROM nodes n LEFT JOIN (
      SELECT e.dst AS path, SUM(r.rank / d.odeg) AS contrib
      FROM edges e JOIN {prev} r ON r.path = e.src JOIN deg d ON d.src = e.src
      GROUP BY 1
    ) c ON c.path = n.path
"""


_LANGID_PRED_SQL = """
    WITH w AS (
      SELECT doc_id, lang,
             string_split(trim(lower(text)), ' ') AS words
      FROM documents
    ), pred AS (
      SELECT doc_id, lang,
             list_max([
               {'hits': len(list_filter(words, x -> x IN ('der','die','und','ist','nicht'))), 'lang': 'de'},
               {'hits': len(list_filter(words, x -> x IN ('the','and','of','is','to'))), 'lang': 'en'},
               {'hits': len(list_filter(words, x -> x IN ('el','la','que','es','los'))), 'lang': 'es'},
               {'hits': len(list_filter(words, x -> x IN ('le','la','et','est','les'))), 'lang': 'fr'}
             ]) AS best
      FROM w
    ),
    p AS (
      SELECT lang AS label,
             CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS pred
      FROM pred
    )"""


# star-export EVERYTHING (incl. underscore helpers and shared imports)
# so family modules reproduce the original single-module namespace with
# one `from cm_well_spark.registry._core import *`
__all__ = [n for n in list(globals()) if not n.startswith('__')]
