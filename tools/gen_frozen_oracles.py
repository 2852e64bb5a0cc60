"""Generate frozen VALUES oracles for the queries whose math DuckDB
cannot recompute live: the engine-hash-native dedup trio
(``dedup_minhash_lsh``, ``dedup_simhash``, ``lsh_jaccard_verify`` —
Spark xxhash64) and the fixed-θ covariance pipeline
(``acd_covariance_durations`` — FD Hessian / eigen pinv / sandwich /
delta method, no SQL equivalent).  For each requested scale factor this
tool:

1. INDEPENDENTLY recomputes each pipeline over the parquet input —
   dedup in pure Python (token/shingle hashing via the pure-Python
   XXH64 reimplementation rust_timeseries_spark/functions/xxh64.py,
   itself pinned against Spark's ``F.xxhash64`` by pytest; MinHash
   banding / SimHash bit-votes / Hamming in plain int arithmetic),
   covariance via tools/acd_cov_recompute.py (standalone numpy, zero
   engine imports).  No engine code in any value path — these are
   second implementations, not dumps of the first one's output.
2. Runs the engine's actual driver queries on Spark and asserts the two
   result sets are IDENTICAL (any mismatch aborts generation).
3. Freezes the verified rows as DuckDB ``VALUES`` literals into
   ``oracle_frozen.py`` at the repo root, keyed BY SCALE FACTOR.
   ``__spark_entry__.oracle_sql()`` serves the driver-gate scale
   (sf0.01); ``tools/check_oracle.py`` selects the entry matching its
   sf dir, so the sf0.001/sf0.1 sweeps check these queries too instead
   of skipping them (round-3 verdict item 2).

The testdata is deterministic (seed 42, TESTDATA.md), so the freeze is
stable across driver runs at the same scale factor.

Usage: python tools/gen_frozen_oracles.py [sf_dir ...]
       (default: /root/testdata/sf0.001 sf0.01 sf0.1)
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))  # tools/ (acd_cov_recompute)

from rust_timeseries_spark.functions.xxh64 import spark_xxhash64  # noqa: E402

# driver-query parameters (must match __spark_entry__._q_minhash_dedup /
# _q_simhash / _q_lsh_verify exactly)
MINHASH = dict(shingle_k=3, num_perm=32, bands=8, rows_per_band=4, threshold=0.5, seed=42)
SIMHASH = dict(max_hamming=7, n_chunks=8)
LSH_VERIFY_THRESHOLD = 0.5


def shingles(text: str, k: int) -> list[str]:
    """The shingles of ``operators.dedup.shingles``: k consecutive
    fields of the split on a literal space, joined by one space; a text
    of fewer than k fields is its own single shingle."""
    ws = text.split(" ")
    if len(ws) >= k:
        return [" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)]
    return [" ".join(ws)]


def _doc_hashes(text: str) -> tuple[list[int], list[int], int]:
    """Per-doc (MinHash signature, band hashes, SimHash code) — the ONE
    implementation shared by the sequential and parallel recompute
    paths (review r5: two copies selected by corpus size could drift
    apart silently; generation only cross-checks against the engine,
    not between the two paths)."""
    num_perm, k, seed = MINHASH["num_perm"], MINHASH["shingle_k"], MINHASH["seed"]
    bands, rpb = MINHASH["bands"], MINHASH["rows_per_band"]
    sh = shingles(text, k)
    sig = []
    for i in range(num_perm):
        # F.xxhash64(shingle, F.lit(seed+i)) — int literal child
        sig.append(min(spark_xxhash64(s, (seed + i, "int")) for s in sh))
    bhs = []
    for b in range(bands):
        band_str = ",".join(str(sig[b * rpb + r]) for r in range(rpb))
        bhs.append(spark_xxhash64(band_str, (b, "int")))
    toks = text.split(" ") if text else []
    sim = 0
    if toks:
        votes = [0] * 64
        for w in toks:
            h = spark_xxhash64(w) & 0xFFFFFFFFFFFFFFFF  # unsigned view
            for b in range(64):
                votes[b] += 1 if (h >> b) & 1 else -1
        for b in range(64):
            if votes[b] > 0:
                sim |= 1 << b
    return sig, bhs, sim


def _lsh_candidates_py(docs: list[tuple[int, str]]):
    """Shared stage: signatures + band-bucket candidate pairs."""
    sigs: dict[int, list[int]] = {}
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, text in docs:
        sig, bhs, _sim = _doc_hashes(text)
        sigs[doc_id] = sig
        for b, bh in enumerate(bhs):
            buckets.setdefault((b, bh), []).append(doc_id)
    cands: set[tuple[int, int]] = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cands.add((ids[i], ids[j]))
    return sigs, cands


def minhash_pairs_py(docs: list[tuple[int, str]]) -> dict[tuple[int, int], float]:
    """Independent MinHash-LSH: signatures → band buckets → candidate
    pairs → signature-agreement Jaccard ≥ threshold."""
    num_perm, thr = MINHASH["num_perm"], MINHASH["threshold"]
    sigs, cands = _lsh_candidates_py(docs)
    out = {}
    for a, b in cands:
        agree = sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y)
        est = agree / num_perm
        if est >= thr:
            out[(a, b)] = est
    return out


def lsh_verified_pairs_py(docs: list[tuple[int, str]]) -> dict[tuple[int, int], tuple]:
    """Independent LSH-verified EXACT Jaccard: band-bucket candidates →
    exact set Jaccard over distinct shingles ≥ LSH_VERIFY_THRESHOLD."""
    k = MINHASH["shingle_k"]
    _, cands = _lsh_candidates_py(docs)
    sets = {doc_id: set(shingles(text, k)) for doc_id, text in docs}
    out = {}
    for a, b in cands:
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        j = inter / union
        if j >= LSH_VERIFY_THRESHOLD:
            out[(a, b)] = (inter, union, j)
    return out


def simhash_pairs_py(docs: list[tuple[int, str]]) -> dict[tuple[int, int], int]:
    """Independent SimHash: per-doc bit-vote over xxhash64 token hashes,
    then EXACT all-pairs Hamming ≤ max_hamming (the engine's 8-chunk
    bucketing guarantees recall at this radius, so exact all-pairs is
    the correct reference — it checks recall, not just precision).

    Independence note: the bit-vote and Hamming math here are written
    in plain Python int arithmetic — deliberately NOT the engine's
    numpy broadcast kernel (operators/dedup.py simhash_from_hashes) —
    so a bug in that kernel cannot cancel out in this recompute. The
    one shared component is the XXH64 reimplementation
    (functions/xxh64.py), whose correctness is anchored EXTERNALLY by
    the pytest pin against Spark's own F.xxhash64."""
    max_h = SIMHASH["max_hamming"]
    sims: list[tuple[int, int]] = []
    for doc_id, text in docs:
        _sig, _bhs, sim = _doc_hashes(text)
        sims.append((doc_id, sim))
    out = {}
    for i in range(len(sims)):
        for j in range(i + 1, len(sims)):
            (a, sa), (b, sb) = sims[i], sims[j]
            if a > b:
                (a, sa), (b, sb) = (b, sb), (a, sa)
            d = bin(sa ^ sb).count("1")
            if d <= max_h:
                out[(a, b)] = d
    return out


# ---------------------------------------------------------------------------
# parallel recompute path for big corpora (round-5 verdict item 4: the
# sequential pure-Python recompute is impractical at sf1's 50 k docs).
# Semantics are IDENTICAL to the sequential functions above — same
# shingling, same xxh64 reimplementation, same band/bucket/agreement
# math — only the execution strategy changes: doc-level hashing fans out
# over a fork Pool, and the SimHash all-pairs Hamming runs as a blocked
# numpy XOR + byte-LUT popcount instead of a Python pair loop (still an
# independent algorithm from the engine's 8-chunk pigeonhole bucket
# join — it checks recall, not just precision).
# ---------------------------------------------------------------------------

_PAR_THRESHOLD = 2000  # docs; below this the sequential path is fine
_G_DOCS: list[tuple[int, str]] = []  # fork-shared corpus for Pool workers


def _doc_hash_chunk(bounds: tuple[int, int]):
    """Worker: per-doc hashes (via the shared ``_doc_hashes``) for
    docs[lo:hi] of the fork-shared corpus."""
    lo, hi = bounds
    out = []
    for doc_id, text in _G_DOCS[lo:hi]:
        sig, bhs, sim = _doc_hashes(text)
        out.append((doc_id, sig, bhs, sim))
    return out


def _hash_corpus_parallel(docs: list[tuple[int, str]], procs: int):
    """(sigs, band_buckets, sims) for the whole corpus, fanned out."""
    import multiprocessing as mp

    global _G_DOCS
    _G_DOCS = docs
    n = len(docs)
    chunk = max(1, n // (procs * 8))
    bounds = [(lo, min(lo + chunk, n)) for lo in range(0, n, chunk)]
    with mp.get_context("fork").Pool(procs) as pool:
        parts = pool.map(_doc_hash_chunk, bounds)
    _G_DOCS = []
    sigs: dict[int, list[int]] = {}
    buckets: dict[tuple[int, int], list[int]] = {}
    sims: list[tuple[int, int]] = []
    for part in parts:
        for doc_id, sig, bhs, sim in part:
            sigs[doc_id] = sig
            for b, bh in enumerate(bhs):
                buckets.setdefault((b, bh), []).append(doc_id)
            sims.append((doc_id, sim))
    cands: set[tuple[int, int]] = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cands.add((ids[i], ids[j]))
    return sigs, cands, sims


def _simhash_allpairs_np(sims: list[tuple[int, int]], max_h: int):
    """Exact all-pairs Hamming ≤ max_h over 64-bit codes: blocked numpy
    XOR + byte-LUT popcount (numpy 1.26 has no bitwise_count)."""
    import numpy as np

    sims = sorted(sims)  # (doc_id, code), ids ascending
    ids = np.array([d for d, _ in sims], dtype=np.int64)
    codes = np.array([c for _, c in sims], dtype=np.uint64)
    lut = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
    n = len(codes)
    out: dict[tuple[int, int], int] = {}
    block = 512
    for lo in range(0, n, block):
        hi = min(lo + block, n)
        x = codes[lo:hi, None] ^ codes[None, lo:]  # only j >= lo (upper tri)
        d = lut[x.view(np.uint8).reshape(hi - lo, n - lo, 8)].sum(axis=2)
        ii, jj = np.nonzero(d <= max_h)
        for a, b in zip(ii.tolist(), jj.tolist()):
            gi, gj = lo + a, lo + b
            if gi < gj:
                out[(int(ids[gi]), int(ids[gj]))] = int(d[a, b])
    return out


def minhash_simhash_lsh_big(docs: list[tuple[int, str]], procs: int = 30):
    """(minhash_pairs, simhash_pairs, lsh_verified_pairs) for a big
    corpus — one shared hashing fan-out, then the same pair math as the
    sequential functions."""
    num_perm, thr = MINHASH["num_perm"], MINHASH["threshold"]
    k = MINHASH["shingle_k"]
    sigs, cands, sims = _hash_corpus_parallel(docs, procs)
    mh = {}
    for a, b in cands:
        agree = sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y)
        est = agree / num_perm
        if est >= thr:
            mh[(a, b)] = est
    text_by_id = dict(docs)
    need = {d for pair in cands for d in pair}
    sets = {d: set(shingles(text_by_id[d], k)) for d in need}
    lv = {}
    for a, b in cands:
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        j = inter / union
        if j >= LSH_VERIFY_THRESHOLD:
            lv[(a, b)] = (inter, union, j)
    sh = _simhash_allpairs_np(sims, SIMHASH["max_hamming"])
    return mh, sh, lv


def emb_near_dup_py_big(con, sf_dir: str) -> dict[tuple[int, int], str]:
    """Big-corpus variant of emb_near_dup_py: same hyperplanes/buckets,
    but per-bucket candidate cosines go through a numpy GEMM *screen*
    (threshold − 1e-6 slack), and every surviving pair is re-verified
    with the same per-row pairwise reduction the sequential recompute
    uses — so the frozen values are bit-identical to that path while
    the pair enumeration stays out of Python loops."""
    import numpy as np

    nb, nt, seed, thr = (
        EMB_ND["n_bits"], EMB_ND["n_tables"], EMB_ND["seed"], EMB_ND["threshold"]
    )
    rows = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
        "ORDER BY vec_id"
    ).fetchall()
    ids = np.array([int(r[0]) for r in rows], dtype=np.int64)
    M = np.array([r[1] for r in rows], dtype=np.float64)
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((M.shape[1], nb * nt))
    bits = (M @ planes) > 0
    codes = bits.reshape(len(M), nt, nb) @ (1 << np.arange(nb, dtype=np.int64))
    nrm = np.sqrt((M * M).sum(axis=1))
    Mn = M / nrm[:, None]
    out: dict[tuple[int, int], str] = {}
    for t in range(nt):
        buckets: dict[int, list[int]] = {}
        for i, c in enumerate(codes[:, t]):
            buckets.setdefault(int(c), []).append(i)
        for idxs in buckets.values():
            if len(idxs) < 2:
                continue
            sub = np.array(idxs, dtype=np.int64)
            G = Mn[sub] @ Mn[sub].T  # screen only — exact recompute below
            ii, jj = np.nonzero(np.triu(G >= thr - 1e-6, k=1))
            for a, b in zip(ii.tolist(), jj.tolist()):
                i, j = int(sub[a]), int(sub[b])
                key = (int(ids[i]), int(ids[j])) if ids[i] < ids[j] else (int(ids[j]), int(ids[i]))
                if key in out:
                    continue
                cos = float((M[i] * M[j]).sum()) / (nrm[i] * nrm[j])
                if cos >= thr:
                    out[key] = "%.5e" % cos
    return out


def _sql_literal(v) -> str:
    # floats go through a STRING cast: DuckDB types a bare decimal
    # literal as DECIMAL first, and DECIMAL→DOUBLE can differ from IEEE
    # strtod by 1 ulp; CAST('…' AS DOUBLE) is strtod, which round-trips
    # Python's repr exactly
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        return f"CAST('{v!r}' AS DOUBLE)"
    return repr(v)


def to_values_sql(rows: list[tuple], cols: list[str], types: list[str]) -> str:
    if not rows:
        sel = ", ".join(f"CAST(NULL AS {t}) AS {c}" for c, t in zip(cols, types))
        return f"SELECT {sel} WHERE FALSE"
    body = ",\n  ".join("(" + ", ".join(_sql_literal(v) for v in row) + ")" for row in rows)
    casts = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in zip(cols, types))
    return f"SELECT {casts} FROM (VALUES\n  {body}\n) AS t({', '.join(cols)})"


#: fixed-θ covariance parameters — must match __spark_entry__._COV_THETA
#: / _COV_BANDWIDTH exactly (asserted in main())
COV_THETA = (-1.5, -0.5, -0.3)
COV_BANDWIDTH = 8

#: embedding near-dup params — must match __spark_entry__._EMB_ND
EMB_ND = dict(threshold=0.35, n_bits=4, n_tables=8, seed=42, dim=64)


def emb_near_dup_py(con, sf_dir: str) -> dict[tuple[int, int], str]:
    """Independent numpy recompute of the sign-LSH embedding near-dup
    pipeline (dedup.embedding_near_dup_pairs ungrouped route): seeded
    Gaussian hyperplanes → per-table sign buckets → within-bucket
    candidate pairs → exact cosine ≥ threshold, formatted %.5e. The
    seeded ``np.random.default_rng`` is the one shared public-library
    component (like eigh / xxh64 in the other recomputes); the
    bucketing, pairing, dedup and cosine algebra are re-derived here."""
    import numpy as np

    nb, nt, seed, thr = (
        EMB_ND["n_bits"], EMB_ND["n_tables"], EMB_ND["seed"], EMB_ND["threshold"]
    )
    rows = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
        "ORDER BY vec_id"
    ).fetchall()
    ids = [int(r[0]) for r in rows]
    M = np.array([r[1] for r in rows], dtype=np.float64)
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((M.shape[1], nb * nt))
    bits = (M @ planes) > 0
    codes = bits.reshape(len(M), nt, nb) @ (1 << np.arange(nb, dtype=np.int64))
    nrm = np.sqrt((M * M).sum(axis=1))
    out: dict[tuple[int, int], str] = {}
    seen: set[tuple[int, int]] = set()
    for t in range(nt):
        buckets: dict[int, list[int]] = {}
        for i, c in enumerate(codes[:, t]):
            buckets.setdefault(int(c), []).append(i)
        for idxs in buckets.values():
            for x in range(len(idxs)):
                for y in range(x + 1, len(idxs)):
                    i, j = idxs[x], idxs[y]
                    key = (ids[i], ids[j]) if ids[i] < ids[j] else (ids[j], ids[i])
                    if key in seen:
                        continue
                    seen.add(key)
                    # per-row pairwise reduction — the exact op the
                    # engine's cell-independent recompute uses
                    cos = float((M[i] * M[j]).sum()) / (nrm[i] * nrm[j])
                    if cos >= thr:
                        out[key] = "%.5e" % cos
    return out

DRIVER_SF = "0.01"  # the driver's correctness-gate scale


def _sf_key(sf_dir: str) -> str:
    """Float-normalized sf string ('0.01'), path-spelling-independent."""
    return str(float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]))


def gen_acd_loglik(spark, entrymod, con, sf_dir: str) -> dict[str, str] | None:
    """Recompute + verify + render the 4 fixed-θ kernel gates whose live
    RECURSIVE-CTE oracles are oracle-side bottlenecks above sf0.01
    (ORACLE_SF_LIMITS): acd_fit_durations / acd_loglik_weibull /
    acd_loglik_gengamma / acd_gof_residuals. The recompute
    (tools/acd_loglik_recompute.py) is standalone numpy, zero engine
    imports — the acd_cov_recompute pattern."""
    import acd_loglik_recompute as LL

    qs = entrymod.queries()
    specs = [
        (
            "acd_fit_durations", LL.fit_rows,
            ["key", "loglik0", "converged", "fit_improved"],
            ["VARCHAR", "VARCHAR", "BOOLEAN", "BOOLEAN"],
            lambda r: (r["key"], r["loglik0"], r["converged"], r["fit_improved"]),
        ),
        (
            "acd_loglik_weibull", LL.weibull_rows,
            ["key", "loglik_weibull"], ["VARCHAR", "VARCHAR"],
            lambda r: (r["key"], r["loglik_weibull"]),
        ),
        (
            "acd_loglik_gengamma", LL.gengamma_rows,
            ["key", "loglik_gengamma"], ["VARCHAR", "VARCHAR"],
            lambda r: (r["key"], r["loglik_gengamma"]),
        ),
        (
            "acd_gof_residuals", LL.gof_rows,
            ["key", "n", "lb_stat", "lb_pvalue", "excess_dispersion", "error"],
            ["VARCHAR", "BIGINT", "VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR"],
            lambda r: (r["key"], r["n"], r["lb_stat"], r["lb_pvalue"],
                       r["excess_dispersion"], r["error"]),
        ),
    ]
    out = {}
    for name, rows_fn, cols, types, rowkey in specs:
        exp_rows = sorted(rows_fn(con, sf_dir))
        got_rows = sorted(rowkey(r) for r in qs[name](spark, sf_dir).collect())
        if got_rows != exp_rows:
            diffs = [(g, e) for g, e in zip(got_rows, exp_rows) if g != e]
            print(f"{name.upper()} MISMATCH: {len(diffs)} rows differ; "
                  f"first: {diffs[:3]}")
            return None
        out[name] = to_values_sql(exp_rows, cols, types)
    print(f"--- {sf_dir}: acd loglik/gof recomputes == engine "
          f"({len(specs)} queries)")
    return out


def gen_one_sf(spark, entrymod, con, sf_dir: str, cov_only: bool = False) -> dict[str, str] | None:
    """Recompute + verify + render the frozen oracles for one sf dir.
    Returns {query: VALUES sql} or None on mismatch. ``cov_only`` skips
    the dedup trio — the pure-Python recompute is quadratic-ish in
    corpus size (all-pairs SimHash), impractical at sf1's 50 k docs,
    while the covariance + loglik recomputes stay cheap at any sf."""
    import acd_cov_recompute as COV

    qs = entrymod.queries()
    ll_sqls = gen_acd_loglik(spark, entrymod, con, sf_dir)
    if ll_sqls is None:
        return None
    cov_rows = COV.covariance_rows(con, sf_dir, COV_THETA, COV_BANDWIDTH)
    print(f"--- {sf_dir}: cov recompute {len(cov_rows)} rows")
    got_cov = sorted(
        (r["key"], r["i"], r["j"], r["cov_classical"], r["cov_robust"])
        for r in qs["acd_covariance_durations"](spark, sf_dir).collect()
    )
    if got_cov != cov_rows:
        diffs = [(g, e) for g, e in zip(got_cov, cov_rows) if g != e]
        print(f"COVARIANCE MISMATCH: {len(diffs)} rows differ; first: {diffs[:3]}")
        return None
    cov_sql = to_values_sql(
        cov_rows, ["key", "i", "j", "cov_classical", "cov_robust"],
        ["VARCHAR", "INTEGER", "INTEGER", "VARCHAR", "VARCHAR"],
    )
    if cov_only:
        print("engine output == independent recompute (cov + loglik only)")
        return {"acd_covariance_durations": cov_sql, **ll_sqls}

    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    print(f"--- {sf_dir}: {len(docs)} documents")

    if len(docs) > _PAR_THRESHOLD:
        mh, sh, lv = minhash_simhash_lsh_big(docs)
        en = emb_near_dup_py_big(con, sf_dir)
    else:
        mh = minhash_pairs_py(docs)
        sh = simhash_pairs_py(docs)
        lv = lsh_verified_pairs_py(docs)
        en = emb_near_dup_py(con, sf_dir)
    print(f"independent recompute: minhash {len(mh)}, simhash {len(sh)}, "
          f"lsh-verified {len(lv)}, emb-near-dup {len(en)} pairs")

    # verify against the engine before freezing
    got_mh = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in qs["dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    got_sh = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in qs["dedup_simhash"](spark, sf_dir).collect()
    }
    got_lv = {
        (r["id_a"], r["id_b"]): (r["inter"], r["union_sz"], r["jaccard"])
        for r in qs["lsh_jaccard_verify"](spark, sf_dir).collect()
    }
    got_en = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in qs["embedding_near_dup"](spark, sf_dir).collect()
    }
    if got_en != en:
        extra, missing = set(got_en) - set(en), set(en) - set(got_en)
        print(f"EMB-NEAR-DUP MISMATCH: engine-only {sorted(extra)[:5]}, "
              f"recompute-only {sorted(missing)[:5]}")
        vals = {k: (got_en.get(k), en.get(k)) for k in list(set(got_en) | set(en))[:5]
                if got_en.get(k) != en.get(k)}
        print("value diffs:", vals)
        return None
    if got_mh != mh:
        extra, missing = set(got_mh) - set(mh), set(mh) - set(got_mh)
        print(f"MINHASH MISMATCH: engine-only {sorted(extra)[:5]}, recompute-only {sorted(missing)[:5]}")
        vals = {k: (got_mh.get(k), mh.get(k)) for k in list(set(got_mh) | set(mh))[:5] if got_mh.get(k) != mh.get(k)}
        print("value diffs:", vals)
        return None
    if got_sh != sh:
        extra, missing = set(got_sh) - set(sh), set(sh) - set(got_sh)
        print(f"SIMHASH MISMATCH: engine-only {sorted(extra)[:5]}, recompute-only {sorted(missing)[:5]}")
        return None
    if got_lv != lv:
        extra, missing = set(got_lv) - set(lv), set(lv) - set(got_lv)
        print(f"LSH-VERIFY MISMATCH: engine-only {sorted(extra)[:5]}, recompute-only {sorted(missing)[:5]}")
        vals = {k: (got_lv.get(k), lv.get(k)) for k in list(set(got_lv) | set(lv))[:5]
                if got_lv.get(k) != lv.get(k)}
        print("value diffs:", vals)
        return None
    print("engine output == independent recompute — rendering")

    mh_rows = sorted((a, b, est) for (a, b), est in mh.items())
    sh_rows = sorted((a, b, h) for (a, b), h in sh.items())
    lv_rows = sorted((a, b, i, u, j) for (a, b), (i, u, j) in lv.items())
    en_rows = sorted((a, b, c) for (a, b), c in en.items())
    return {
        "embedding_near_dup": to_values_sql(
            en_rows, ["id_a", "id_b", "cosine"], ["BIGINT", "BIGINT", "VARCHAR"]
        ),
        "dedup_minhash_lsh": to_values_sql(
            mh_rows, ["id_a", "id_b", "est_jaccard"], ["BIGINT", "BIGINT", "DOUBLE"]
        ),
        "dedup_simhash": to_values_sql(
            sh_rows, ["id_a", "id_b", "hamming"], ["BIGINT", "BIGINT", "INTEGER"]
        ),
        "lsh_jaccard_verify": to_values_sql(
            lv_rows, ["id_a", "id_b", "inter", "union_sz", "jaccard"],
            ["BIGINT", "BIGINT", "INTEGER", "INTEGER", "DOUBLE"],
        ),
        "acd_covariance_durations": cov_sql,
        **ll_sqls,
    }


def main() -> int:
    args = sys.argv[1:]
    cov_only = "--cov-only" in args
    args = [a for a in args if a != "--cov-only"]
    sf_dirs = args or [
        "/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"
    ]
    con = duckdb.connect()

    import __spark_entry__ as entrymod
    from rust_timeseries_spark.session import build_spark

    # the frozen oracle is only valid for the parameters the driver
    # query actually uses — fail loudly if they drift
    assert tuple(entrymod._COV_THETA) == COV_THETA, "COV_THETA drifted"
    assert entrymod._COV_BANDWIDTH == COV_BANDWIDTH, "COV_BANDWIDTH drifted"
    mh_drv = dict(
        shingle_k=3, num_perm=32, bands=8, rows_per_band=4, threshold=0.5, seed=42
    )
    assert MINHASH == mh_drv, "MINHASH params drifted"
    assert entrymod._EMB_ND == EMB_ND, "EMB_ND params drifted"

    spark = build_spark(app_name="gen-frozen-oracles", shuffle_partitions=8)
    # merge over any existing freeze so incremental regeneration (e.g.
    # --cov-only for a scaledata sf) keeps the other entries intact
    sf_sql: dict[str, dict[str, str]] = {}
    try:
        import oracle_frozen as _prev

        if hasattr(_prev, "SF_SQL"):
            sf_sql = {k: dict(v) for k, v in _prev.SF_SQL.items()}
    except ImportError:
        pass
    try:
        for sf_dir in sf_dirs:
            out = gen_one_sf(spark, entrymod, con, sf_dir, cov_only=cov_only)
            if out is None:
                return 1
            sf_sql.setdefault(_sf_key(sf_dir), {}).update(out)
    finally:
        spark.stop()

    if DRIVER_SF not in sf_sql:
        print(f"WARNING: driver scale sf{DRIVER_SF} not among generated "
              f"{sorted(sf_sql)} — oracle_sql() aliases will be missing")
        return 1

    # entries above the size threshold (the sf1 SimHash / embedding
    # result sets are hundreds of thousands of rows — a data artifact of
    # the replicated scaledata corpus) go to a GITIGNORED sidecar:
    # scaledata itself is regenerated, not committed, so its frozen
    # oracles are too (tools/gen_scale_data.py then this tool).
    # oracle_frozen.py merges the sidecar at import when present.
    BIG = 2_000_000  # chars of rendered VALUES sql
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    main_sql: dict[str, dict[str, str]] = {}
    big_sql: dict[str, dict[str, str]] = {}
    for sf, entries in sf_sql.items():
        for name, sql in entries.items():
            dst = big_sql if len(sql) > BIG else main_sql
            dst.setdefault(sf, {})[name] = sql

    def _write(path: str, data: dict[str, dict[str, str]], header: str, tail: str = "") -> None:
        with open(path, "w") as f:
            f.write(header)
            f.write("SF_SQL = {\n")
            for sf in sorted(data, key=float):
                f.write(f"    {sf!r}: {{\n")
                for name, sql in data[sf].items():
                    # strip then re-wrap: keeps regeneration idempotent
                    # (carried-over entries must not accrete blank lines)
                    f.write(f"        {name!r}: '''\n{sql.strip()}\n''',\n")
                f.write("    },\n")
            f.write("}\n")
            f.write(tail)

    out_path = os.path.join(root, "oracle_frozen.py")
    _write(
        out_path, main_sql,
        '"""FROZEN oracles for queries DuckDB cannot recompute live\n'
        "(engine-hash dedup trio + fixed-theta covariance/loglik pipelines).\n\n"
        "GENERATED by tools/gen_frozen_oracles.py — do not edit by hand.\n"
        "Each VALUES literal was produced by an INDEPENDENT recompute of\n"
        "the pipeline (see that tool's docstring) and verified identical\n"
        "to the engine output before freezing.  Keyed by scale factor\n"
        "(deterministic testdata, seed 42); oracle_sql() serves the\n"
        'driver-gate scale, check_oracle.py selects by sf dir.\n"""\n\n'
        f"DRIVER_SF = {DRIVER_SF!r}\n\n",
        "\n# oversized entries (regenerable scaledata SFs) live in a\n"
        "# gitignored sidecar — merge when present\n"
        "try:\n"
        "    from oracle_frozen_big import SF_SQL as _BIG_SF_SQL\n"
        "\n"
        "    for _sf, _qs in _BIG_SF_SQL.items():\n"
        "        SF_SQL.setdefault(_sf, {}).update(_qs)\n"
        "except ImportError:\n"
        "    pass\n\n"
        "# legacy driver-scale aliases\n"
        "SF = DRIVER_SF\n"
        "MINHASH_LSH_SQL = SF_SQL[DRIVER_SF]['dedup_minhash_lsh']\n"
        "SIMHASH_SQL = SF_SQL[DRIVER_SF]['dedup_simhash']\n"
        "LSH_VERIFIED_SQL = SF_SQL[DRIVER_SF]['lsh_jaccard_verify']\n"
        "ACD_COVARIANCE_SQL = SF_SQL[DRIVER_SF]['acd_covariance_durations']\n",
    )
    if big_sql:
        _write(
            os.path.join(root, "oracle_frozen_big.py"), big_sql,
            '"""GITIGNORED sidecar of oversized frozen oracles (regenerable\n'
            "scaledata scale factors). GENERATED by tools/gen_frozen_oracles.py;\n"
            'merged into oracle_frozen.SF_SQL at import when present.\n"""\n\n',
        )
    print(f"wrote {out_path}: {sorted(sf_sql)} × {list(next(iter(sf_sql.values())))}"
          + (f"; sidecar: { {sf: sorted(qs) for sf, qs in big_sql.items()} }" if big_sql else ""))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
