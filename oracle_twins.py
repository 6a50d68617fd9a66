"""Independent reference implementations behind the registry's twin oracles.

Twelve registry oracles cannot be written in SQL alone: the answer hangs on
sequential bin state, an iterative learner, a fixpoint over a giant
component, DEFLATE, xxhash64 banding or an eigendecomposition. Each such
oracle inlines that part of the answer as a VALUES list computed here, from
the same parquet tables its SQL reads, so the oracle holds at every scale
factor. Every public function takes the test-table directory and returns the
VALUES text; results are memoized per directory.

Nothing here imports `cm_well_spark`. Each twin re-derives its answer its own
way (union-find where the engine propagates labels, brute-force kNN where it
joins buckets, one global numpy pass where it folds partitioned moments), so
a match checks the engine instead of repeating it. What is shared is only
the operators' contracts: XXH64 with Spark's seeding, the LCG hyperplane
formula, the md5 bucket salt and the rounding rules.

The registry resolves these through `registry.oracle_sql(sf_dir)`;
tests/test_oracles.py pins every value at sf0.01.
"""

from __future__ import annotations

import hashlib
import math
import re
import zlib
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal
from functools import cache

import duckdb
import numpy as np


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _docs(sf_dir: str, max_doc_id: int) -> list[tuple[int, str]]:
    return duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') "
        f"WHERE doc_id < {max_doc_id} ORDER BY doc_id"
    ).fetchall()


def _words(text: str) -> list[str]:
    # Java \s is ASCII-only, hence re.ASCII
    return [w for w in re.split(r"\s+", (text or "").strip().lower(), flags=re.ASCII) if w]


def _min_labels(nodes, edges) -> dict:
    """Union-find by min: every node's label is the least node of its
    component, a canonical labeling no union order can change, so it must
    equal the engine's min-label fixpoint."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


# ---- BPE (text_bpe_merges, text_bpe_token_counts) --------------------------
# doc_id < 100, n_merges=12. Integer pair counts, lexicographic tie-break and
# a leftmost-greedy merge fold make the merge list deterministic.

_BPE_END = "</w>"


@cache
def _bpe(sf_dir: str) -> tuple[list[tuple[str, str]], dict[int, int]]:
    word_freq: Counter = Counter()
    doc_words: dict[int, list[str]] = {}
    for doc_id, text in _docs(sf_dir, 100):
        doc_words[doc_id] = ws = _words(text)
        word_freq.update(ws)

    vocab = {w: (list(w) + [_BPE_END], f) for w, f in word_freq.items()}
    merges: list[tuple[str, str]] = []
    for _ in range(12):
        counts: Counter = Counter()
        for syms, f in vocab.values():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += f
        if not counts:
            break
        # highest count, ties -> lexicographically smallest (a, b)
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < 2:
            break
        merges.append((a, b))
        for w, (syms, f) in vocab.items():
            new: list[str] = []
            for x in syms:  # leftmost-greedy fold, as the columnar fold
                if new and new[-1] == a and x == b:
                    new[-1] = a + b
                else:
                    new.append(x)
            vocab[w] = (new, f)

    rank = {m: i for i, m in enumerate(merges)}

    def encode_len(w: str) -> int:
        syms = list(w) + [_BPE_END]
        while len(syms) > 1:
            best, bi = None, None
            for i in range(len(syms) - 1):
                r = rank.get((syms[i], syms[i + 1]))
                if r is not None and (best is None or r < best):
                    best, bi = r, i
            if best is None:
                break
            syms[bi : bi + 2] = [syms[bi] + syms[bi + 1]]
        return len(syms)

    enc = {w: encode_len(w) for w in word_freq}
    # docs with no words drop out of the engine's groupBy
    counts = {d: sum(enc[w] for w in ws) for d, ws in doc_words.items() if ws}
    return merges, counts


@cache
def bpe_merges_values(sf_dir: str) -> str:
    return ", ".join(f"({i}, {_q(a)}, {_q(b)})" for i, (a, b) in enumerate(_bpe(sf_dir)[0]))


@cache
def bpe_token_count_values(sf_dir: str) -> str:
    counts = _bpe(sf_dir)[1]
    return ", ".join(f"({i}, {counts[i]})" for i in sorted(counts))


# ---- MinHash and SimHash (dedup_minhash_lsh, dedup_simhash) ----------------
# doc_id < 300. Every hash is Spark xxhash64 (XXH64, seed 42; a multi-argument
# hash chains the previous hash in as the seed), reimplemented here from the
# public xxHash spec. The minhash twin gives the banded candidate pairs (the
# oracle recomputes the exact jaccard in SQL); the simhash twin gives only the
# signatures (the oracle replays brute-force all-pairs hamming in SQL).

_M = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def _xxh64_bytes(data: bytes, seed: int) -> int:
    """XXH64 over bytes (Collet's spec): Spark xxhash64's string path."""
    n, i = len(data), 0
    if n >= 32:
        v1, v2, v3, v4 = (seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M

        def rnd(v: int, chunk: bytes) -> int:
            v = (v + int.from_bytes(chunk, "little") * _P2) & _M
            return (_rotl(v, 31) * _P1) & _M

        while i <= n - 32:
            v1, v2 = rnd(v1, data[i : i + 8]), rnd(v2, data[i + 8 : i + 16])
            v3, v4 = rnd(v3, data[i + 16 : i + 24]), rnd(v4, data[i + 24 : i + 32])
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M, 31) * _P1) & _M
            h = (h * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        k = (_rotl((int.from_bytes(data[i : i + 8], "little") * _P2) & _M, 31) * _P1) & _M
        h ^= k
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    return _fmix(h)


def _xxh64_int(x: int, seed: int) -> int:
    """Spark xxhash64's 4-byte-int path (an int literal column)."""
    h = (seed + _P5 + 4) & _M
    h ^= ((x & 0xFFFFFFFF) * _P1) & _M
    h = (_rotl(h, 23) * _P2 + _P3) & _M
    return _fmix(h)


def _signed(x: int) -> int:
    return x - (1 << 64) if x >= (1 << 63) else x


def _normalize(text: str) -> str:
    return re.sub(r"[^a-z0-9]+", " ", (text or "").lower()).strip()


def _shingles(text: str, k: int = 3) -> list[str]:
    words = _normalize(text).split(" ")
    out, seen = [], set()
    for i in range(max(len(words) - k, 0) + 1):
        sh = " ".join(words[i : i + k])
        if sh not in seen:
            seen.add(sh)
            out.append(sh)
    return out


@cache
def minhash_cand_values(sf_dir: str) -> str:
    """Signatures (64 hashes) -> 16 bands -> candidate pairs."""
    num_hashes, bands = 64, 16
    sigs: dict[int, list[int]] = {}
    for doc_id, text in _docs(sf_dir, 300):
        base = [_xxh64_bytes(s.encode("utf-8"), 42) for s in _shingles(text)]
        sigs[doc_id] = [min(_signed(_xxh64_int(i, b)) for b in base) for i in range(num_hashes)]
    rpb = num_hashes // bands
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, sig in sigs.items():
        for band in range(bands):
            key = ",".join(str(sig[band * rpb + r]) for r in range(rpb))
            bucket = _signed(_xxh64_bytes(key.encode("utf-8"), 42))
            buckets.setdefault((band, bucket), []).append(doc_id)
    cands = set()
    for members in buckets.values():
        ms = sorted(members)
        for i, a in enumerate(ms):
            for b in ms[i + 1 :]:
                cands.add((a, b))
    return ", ".join(f"({a}, {b})" for a, b in sorted(cands))


@cache
def simhash_sig_values(sf_dir: str) -> str:
    """64-bit sign-sum signatures over each doc's token stream."""
    sim: dict[int, int] = {}
    for doc_id, text in _docs(sf_dir, 300):
        hashes = [_xxh64_bytes(t.encode("utf-8"), 42) for t in _normalize(text).split(" ")]
        sig = 0
        for b in range(64):
            if sum(1 if (h >> b) & 1 else -1 for h in hashes) > 0:
                sig |= 1 << b
        sim[doc_id] = _signed(sig)
    return ", ".join(f"({i}, {sim[i]})" for i in sorted(sim))


# ---- first-fit-decreasing packing (pack_bins_ffd) --------------------------


@cache
def ffd_values(sf_dir: str) -> str:
    """(doc_id, bin_id) for doc_id < 400, context_len=64, n_buckets=8.

    Only the sequential bin state comes from here: the oracle recomputes
    n_tok and the md5 bucket in SQL."""
    context_len, n_buckets = 64, 8
    docs = []
    for doc_id, text in _docs(sf_dir, 400):
        # size(split(trim(text), \s+)) with Spark's split: '' -> [''] -> 1
        n_tok = len(re.split(r"\s+", (text or "").strip(), flags=re.ASCII))
        rk = hashlib.md5(f"ffd:{doc_id}".encode()).hexdigest()
        docs.append((doc_id, n_tok, rk))

    assigned: dict[int, int] = {}
    for b in range(n_buckets):
        members = [d for d in docs if d[1] <= context_len and int(d[2][:8], 16) % n_buckets == b]
        members.sort(key=lambda d: (-d[1], d[2]))  # n_tok desc, rk asc
        fills: list[int] = []
        for doc_id, n_tok, _rk in members:
            for j, f in enumerate(fills):
                if f + n_tok <= context_len:
                    fills[j] = f + n_tok
                    assigned[doc_id] = j
                    break
            else:
                fills.append(n_tok)
                assigned[doc_id] = len(fills) - 1
    for doc_id, n_tok, _rk in docs:
        if n_tok > context_len:
            assigned[doc_id] = -1
    return ", ".join(f"({i}, {assigned[i]})" for i in sorted(assigned))


# ---- edit-distance clusters (er_name_clusters) -----------------------------


@cache
def fuzzy_cluster_values(sf_dir: str) -> str:
    """(name, cluster) over the distinct part names at edit distance <= 2:
    brute-force O(|V|^2) banded DP, then union-find by min. The oracle
    derives the name set and the cluster sizes in SQL."""
    max_dist = 2

    def edit_distance(a: str, b: str) -> int:
        if abs(len(a) - len(b)) > max_dist:
            return max_dist + 1
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i] + [0] * len(b)
            for j, cb in enumerate(b, 1):
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            prev = cur
        return prev[-1]

    names = sorted(
        r[0]
        for r in duckdb.sql(
            f"SELECT DISTINCT p_name FROM read_parquet('{sf_dir}/part.parquet') "
            "WHERE length(p_name) >= 2"
        ).fetchall()
    )
    edges = [
        (a, b) for i, a in enumerate(names) for b in names[i + 1 :] if edit_distance(a, b) <= max_dist
    ]
    labels = _min_labels(names, edges)
    return ",\n    ".join(f"({_q(n)}, {_q(labels[n])})" for n in names)


# ---- connected components (graph_connected_components) ---------------------


@cache
def cc_values(sf_dir: str) -> str:
    """(node, component) over the order-part co-occurrence graph,
    l_orderkey < 300. The oracle recomputes the node set from lineitem and
    joins it against these labels, so lost or invented nodes mismatch."""
    rows = duckdb.sql(
        "SELECT DISTINCT l_orderkey, l_partkey FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet') WHERE l_orderkey < 300"
    ).fetchall()
    edges = [(f"/tpch/orders/{o}", f"/tpch/part/{p}") for o, p in rows]
    labels = _min_labels({n for e in edges for n in e}, edges)
    return ", ".join(f"('{n}', '{labels[n]}')" for n in sorted(labels))


# ---- kNN-graph clusters (dedup_knn_components) -----------------------------


def _planes(dim: int, n: int, seed: int) -> list[list[float]]:
    # the operator's LCG hyperplanes: the formula is its contract
    out, state = [], seed
    for _ in range(n):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 33) / float(1 << 31)) - 1.0)
        out.append(row)
    return out


@cache
def knn_cluster_values(sf_dir: str) -> str:
    """(vec_id, component) for k=3, n_planes=6, threshold=0.3: dict-bucketed
    brute-force kNN, then union-find by min. A vector with no qualifying
    edge clusters as itself."""
    k, threshold = 3, 0.3
    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchall()
    planes = _planes(64, 6, 42)

    def bucket(v: list[float]) -> int:
        b = 0
        for i, p in enumerate(planes):
            if sum(a * x for a, x in zip(p, v)) > 0:
                b |= 1 << i
        return b

    def normalize(a: list[float]) -> list[float]:
        # the operator's pre-normalization x / sqrt(fold(x*x)), folded left
        # to right so the ulps match Spark and DuckDB
        na = math.sqrt(sum(x * x for x in a))
        return [x / na for x in a] if na else a

    buckets: dict[int, list[tuple[int, list[float]]]] = {}
    for vid, emb in rows:
        v = [float(x) for x in emb]
        buckets.setdefault(bucket(v), []).append((vid, normalize(v)))

    edges: list[tuple[int, int]] = []
    for members in buckets.values():
        for ia, va in members:
            scored = sorted(
                ((round(sum(x * y for x, y in zip(va, vb)), 6), ib) for ib, vb in members if ib != ia),
                key=lambda t: (-t[0], t[1]),
            )
            edges.extend((ia, ib) for c, ib in scored[:k] if c >= threshold)

    labels = _min_labels([vid for vid, _ in rows], edges)
    return ", ".join(f"({vid}, {labels[vid]})" for vid in sorted(labels))


# ---- PCA projection (embedding_pca_project) --------------------------------

_PCA_Q = Decimal(1).scaleb(-6)


@cache
def pca_values(sf_dir: str) -> str:
    """(vec_id, pos, coord) for n_components=8, round_to=6, from one global
    numpy pass. It matches the engine at 6 decimals because:

    - the engine sums per-partition (n, sum x, sum x x^T) moments; one global
      pass differs by about 1e-13 relative, far inside the 6-significant-digit
      compare;
    - the projection replays the engine's left-to-right F.aggregate fold, not
      np.dot, whose pairwise summation can differ in the last bits;
    - Spark's round(x, 6) is BigDecimal(double) HALF_UP, so the twin quantizes
      the exact binary value HALF_UP; +0.0 normalizes -0.0 on both sides.
    """
    n_components = 8
    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    X = np.array([r[1] for r in rows], dtype=np.float64)
    n, d = X.shape

    mean = X.sum(axis=0) / n
    cov = (X.T @ X) / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    comps = []
    for j in np.argsort(vals)[::-1][:n_components]:
        v = vecs[:, j]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append([float(x) for x in v])
    mean_l = [float(x) for x in mean]

    out = []
    for i, (vid, _) in enumerate(rows):
        centered = [float(X[i, k]) - mean_l[k] for k in range(d)]
        for pos, comp in enumerate(comps):
            acc = 0.0  # sequential fold, same order as F.aggregate
            for k in range(d):
                acc = acc + centered[k] * comp[k]
            coord = float(Decimal(acc).quantize(_PCA_Q, rounding=ROUND_HALF_UP)) + 0.0
            out.append(f"({vid}, {pos}, {coord!r})")
    return ", ".join(out)


# ---- unigram LM (text_unigram_lm_vocab, text_unigram_token_counts) ---------
# doc_id < 100; vocab_size=48, n_iters=2, max_piece_len=4, seed_size=128.
# Hard EM with integer seed and E-step counts, lexicographic tie-breaks,
# shortest-final-piece Viterbi ties and driver-side float normalization.

_UNK_LP = -100.0


def _viterbi(w: str, lp: dict[str, float], max_len: int) -> list[str]:
    n = len(w)
    best = [0.0] + [-math.inf] * n
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        for length in range(1, min(max_len, i) + 1):
            p = lp.get(w[i - length : i])
            if p is None:
                if length > 1:
                    continue
                p = _UNK_LP
            score = best[i - length] + p
            if score > best[i]:
                best[i], back[i] = score, length
    out, i = [], n
    while i > 0:
        out.append(w[i - back[i] : i])
        i -= back[i]
    return out[::-1]


def _prune(counts: list[tuple[str, int]], vocab_size: int) -> list[tuple[str, int]]:
    chars = [(p, n) for p, n in counts if len(p) == 1]
    multi = sorted(((p, n) for p, n in counts if len(p) > 1), key=lambda kv: (-kv[1], kv[0]))
    return chars + multi[: max(0, vocab_size - len(chars))]


def _log_probs(counts: list[tuple[str, int]]) -> dict[str, float]:
    total = sum(n for _, n in counts)
    return {p: math.log(n) - math.log(total) for p, n in counts if n > 0}


@cache
def _unigram(sf_dir: str) -> tuple[list[tuple[str, float]], dict[int, int]]:
    vocab_size, n_iters, max_piece_len, seed_size = 48, 2, 4, 128
    word_freq: Counter = Counter()
    doc_words: dict[int, list[str]] = {}
    for doc_id, text in _docs(sf_dir, 100):
        doc_words[doc_id] = ws = _words(text)
        word_freq.update(ws)

    # seed: frequency-weighted substring counts of lengths 1..max_piece_len,
    # top (seed_size + 4 * vocab_size) by (n desc, piece asc), char-kept prune
    seed_counts: Counter = Counter()
    for w, f in word_freq.items():
        for i in range(len(w)):
            for length in range(1, min(max_piece_len, len(w) - i) + 1):
                seed_counts[w[i : i + length]] += f
    top = sorted(seed_counts.items(), key=lambda kv: (-kv[1], kv[0]))[: seed_size + 4 * vocab_size]
    counts = _prune(top, seed_size)
    lp = _log_probs(counts)

    for _ in range(n_iters):
        ec: Counter = Counter()
        for w, f in word_freq.items():
            for piece in _viterbi(w, lp, max_piece_len):
                ec[piece] += f
        counts = _prune(sorted(ec.items()), vocab_size)
        lp = _log_probs(counts)

    vocab = [(p, lp[p]) for p, n in sorted(counts, key=lambda kv: (-kv[1], kv[0])) if n > 0]
    enc_lp = dict(vocab)
    max_len = max((len(p) for p in enc_lp), default=1)
    enc = {w: len(_viterbi(w, enc_lp, max_len)) for w in word_freq}
    tok = {d: sum(enc[w] for w in ws) for d, ws in doc_words.items() if ws}
    return vocab, tok


@cache
def unigram_vocab_values(sf_dir: str) -> str:
    return ", ".join(f"({i}, {_q(p)}, {round(lp, 6)!r})" for i, (p, lp) in enumerate(_unigram(sf_dir)[0]))


@cache
def unigram_token_count_values(sf_dir: str) -> str:
    tok = _unigram(sf_dir)[1]
    return ", ".join(f"({i}, {tok[i]})" for i in sorted(tok))


# ---- zlib compressibility (text_compression_ratio) -------------------------


@cache
def zlib_values(sf_dir: str) -> str:
    """(doc_id, zip_len, ratio) for doc_id < 300 at zlib level 6, with the
    operator's contract ratio = round(zip_len / raw_len, 6) in Python
    rounding, NULL for an empty doc. The oracle recomputes raw_len in SQL."""
    vals = []
    for doc_id, text in _docs(sf_dir, 300):
        b = (text or "").encode("utf-8")
        z = len(zlib.compress(b, 6))
        ratio = repr(round(z / len(b), 6)) if b else "NULL"
        vals.append(f"({doc_id}, {z}, {ratio})")
    return ", ".join(vals)
