"""Oracle correctness: the twin values behind the registry's oracles, and the
entries whose oracles depend on the scale factor, checked against Spark.

The twins (oracle_twins.py) compute part of an oracle's answer from the
tables the oracle runs on. Their values at sf0.01 are pinned to the values
the correctness gate has always compared against, so a change to a twin
algorithm shows here. The matrix then runs those entries, plus the two
oracles that once held only at sf0.01 (`graph_kcore`, `auth_visibility_filter`),
at the suite's scale factor through the same compare as tools/check_oracle.py.
"""

from __future__ import annotations

import hashlib
import os

import pytest

import oracle_twins
from cm_well_spark.registry import ORACLES, QUERIES, oracle_sql
from tools.check_oracle import compare, connect

# md5 of each twin's VALUES text at sf0.01, the correctness gate's scale factor
TWIN_MD5 = {
    "bpe_merges_values": "f88f46d1f4130478b2aa4ebbda4e9ea8",
    "bpe_token_count_values": "fdb5b1d3fdf4396306c88b1a6dbef6c0",
    "minhash_cand_values": "dcdd3e229f12f2a7c4eb9e0fc2cc72ae",
    "simhash_sig_values": "41510b87d5d96480b8455cc2d233d077",
    "ffd_values": "b2742bc475bf9f199e77c564b244cea9",
    "fuzzy_cluster_values": "f1ff6c90d7d118530de1a2d19c97ed99",
    "cc_values": "3317cdd802f459834d9d10d30e1d0bc9",
    "knn_cluster_values": "1c2a1fc67a2e3193a84d0755f4607de1",
    "pca_values": "aab4f19bd25191a3f86988fa0922260e",
    "unigram_vocab_values": "c2389d8be88cfa3f7dccd9fd2a67178b",
    "unigram_token_count_values": "cac06d82d53799a79fa431a3970fa57d",
    "zlib_values": "6d4d68b994b1f8cf7fed312710c48e57",
}

TWIN_ENTRIES = [
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_bpe_merges",
    "text_bpe_token_counts",
    "pack_bins_ffd",
    "text_compression_ratio",
    "embedding_pca_project",
    "text_unigram_lm_vocab",
    "text_unigram_token_counts",
    "graph_connected_components",
    "dedup_knn_components",
    "er_name_clusters",
]


@pytest.mark.parametrize("name", sorted(TWIN_MD5))
def test_twin_values_pinned_at_gate_scale(sf_dir, name):
    # the scale factors' table directories sit side by side
    values = getattr(oracle_twins, name)(os.path.join(os.path.dirname(sf_dir), "sf0.01"))
    assert hashlib.md5(values.encode()).hexdigest() == TWIN_MD5[name]


def test_twin_entries_are_the_sf_dependent_oracles():
    assert {n for n, o in ORACLES.items() if not isinstance(o, str)} == set(TWIN_ENTRIES)


@pytest.fixture(scope="module")
def oracles(sf_dir):
    con = connect(sf_dir)
    yield con, oracle_sql(sf_dir)
    con.close()


@pytest.mark.parametrize("name", TWIN_ENTRIES + ["graph_kcore", "auth_visibility_filter"])
def test_oracle_matches_spark(spark, sf_dir, oracles, name):
    con, sql = oracles
    diff = compare(QUERIES[name](spark, sf_dir).toPandas(), con.execute(sql[name]).df())
    assert diff is None, diff


def test_oracle_sql_resolves_only_the_named_entries(sf_dir, monkeypatch):
    """A caller naming entries pays only for their twins; the SQL is the
    same as in the full resolution."""
    from cm_well_spark.registry import _core

    twin, plain = TWIN_ENTRIES[0], "graph_kcore"
    resolved = []
    for name in TWIN_ENTRIES:
        monkeypatch.setitem(
            _core.ORACLES, name, lambda d, f=ORACLES[name], n=name: resolved.append(n) or f(d)
        )
    got = oracle_sql(sf_dir, names=[twin, plain, "no_such_entry"])
    assert resolved == [twin] and set(got) == {twin, plain}
    resolved.clear()
    full = oracle_sql(sf_dir)
    assert sorted(resolved) == sorted(TWIN_ENTRIES)
    assert got == {n: full[n] for n in got}
