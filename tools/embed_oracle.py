#!/usr/bin/env python3
"""Large-SF oracle for the two exact-cosine queries whose DuckDB
spellings are inherently all-pairs (no lossless candidate bound exists
for low cosine thresholds on isotropic data — see
Similarity.nearDupPairs scaladoc): embed_neardup (t=0.35) and
decontam_embed (t=0.30 vs the every-37th eval slice).

At sf <= 1 the DuckDB list_sum spellings in SparkEntry.oracleSql remain
the driver-facing oracles; this sidecar exists so the sf10 (and beyond)
gate has ZERO exclusions. It is still an independent implementation:
numpy float64 block matmul generates candidates under a loose gate
(raw >= t - 1e-4 — summation-order slack), then every candidate's
cosine is recomputed with the DEFINITION's arithmetic (float32 widened
to float64, left-to-right accumulation, norm = sqrt of the sequential
square sum, one divide) and rounded exactly as Spark's round(x, 4)
(shortest-repr decimal, HALF_UP).

Usage: python3 tools/embed_oracle.py <sfDir> <verifyOutDir>
Compares against <verifyOutDir>/embed_neardup and /decontam_embed
parquet dumps; exits 1 on any mismatch.
"""
import sys
from decimal import Decimal, ROUND_HALF_UP

import duckdb
import numpy as np


def spark_round4(x: float) -> float:
    # java.math.BigDecimal.valueOf(x).setScale(4, HALF_UP).doubleValue()
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def exact_cos(va32, vb32, na, nb) -> float:
    # float32 -> float64 widening, left-to-right fold: the DotProduct
    # expression's (and the DuckDB list_sum spelling's) exact op order.
    s = 0.0
    for x, y in zip(va32, vb32):
        s += float(x) * float(y)
    return s / (na * nb)


def seq_norm(v32) -> float:
    s = 0.0
    for x in v32:
        s += float(x) * float(x)
    return float(np.sqrt(s))  # IEEE sqrt, same as java.lang.Math.sqrt


def load(sf_dir):
    con = duckdb.connect()
    path = f"{sf_dir}/embeddings.parquet"
    import os
    if os.path.isdir(path):
        path = f"{path}/*.parquet"
    rows = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{path}') "
        "WHERE vec_id IS NOT NULL AND embedding IS NOT NULL "
        "ORDER BY vec_id").fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    V32 = np.array([r[1] for r in rows], dtype=np.float32)
    norms = np.array([seq_norm(v) for v in V32])
    return ids, V32, norms


def candidates(V32, norms, mask_a, mask_b, gate, block=2048):
    """Yield (i, j) global-index candidate pairs with numpy-raw cosine
    >= gate, i from mask_a rows, j from mask_b rows."""
    V = V32.astype(np.float64)
    ia = np.flatnonzero(mask_a)
    ib = np.flatnonzero(mask_b)
    Vb = V[ib]
    nb = norms[ib]
    for s in range(0, len(ia), block):
        sel = ia[s:s + block]
        C = (V[sel] @ Vb.T) / np.outer(norms[sel], nb)
        xs, ys = np.nonzero(C >= gate)
        for x, y in zip(xs, ys):
            yield sel[x], ib[y]


def check(name, got_rows, want_rows):
    got = sorted(got_rows)
    want = sorted(want_rows)
    if got == want:
        print(f"OK   {name}: {len(got)} rows")
        return True
    gs, ws = set(got), set(want)
    print(f"FAIL {name}: spark {len(got)} vs oracle {len(want)} rows; "
          f"spark-only {list(gs - ws)[:3]}, oracle-only {list(ws - gs)[:3]}")
    return False


def strat_mask(ids):
    """The committed 1/64 md5(vec_id) stratum (registry Embed.stratEmb /
    the stratEmbWhere DuckDB spelling), recomputed independently."""
    import hashlib
    return np.array([
        int(hashlib.md5(str(int(v)).encode()).hexdigest()[:8], 16) % 64 == 0
        for v in ids], dtype=bool)


def check_neardup(name, con, out_dir, ids, V32, norms, scope):
    # all pairs within `scope` with cos >= 0.35, a_id < b_id
    t = 0.35
    pairs = {}
    for i, j in candidates(V32, norms, scope, scope, t - 1e-4):
        if ids[i] < ids[j]:
            cos = spark_round4(exact_cos(V32[i], V32[j], norms[i], norms[j]))
            if cos >= t:
                pairs[(int(ids[i]), int(ids[j]))] = cos
    want = [(a, b, c) for (a, b), c in pairs.items()]
    got = con.execute(
        f"SELECT a_id, b_id, cos FROM read_parquet('{out_dir}/{name}/*.parquet')"
    ).fetchall()
    return check(name, got, want)


def check_decontam(name, con, out_dir, ids, V32, norms, scope):
    # corpus vs every-37th eval slice within `scope`, cos >= 0.30
    t = 0.30
    is_eval = (ids % 37 == 0)
    best = {}   # corpus vec_id -> (max_cos, eval_id, n_hits)
    for i, j in candidates(V32, norms, scope & ~is_eval, scope & is_eval,
                           t - 1e-4):
        cos = spark_round4(exact_cos(V32[i], V32[j], norms[i], norms[j]))
        if cos >= t:
            vid, eid = int(ids[i]), int(ids[j])
            cur = best.get(vid)
            if cur is None:
                best[vid] = (cos, eid, 1)
            else:
                mc, me, n = cur
                # max cos; tie toward smallest eval id
                if cos > mc or (cos == mc and eid < me):
                    mc, me = cos, eid
                best[vid] = (mc, me, n + 1)
    want = [(vid, me, mc, n) for vid, (mc, me, n) in best.items()]
    got = con.execute(
        "SELECT vec_id, eval_id, max_cos, n_eval_hits "
        f"FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchall()
    return check(name, got, want)


def main():
    import os
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    ids, V32, norms = load(sf_dir)
    con = duckdb.connect()
    everything = np.ones(len(ids), bool)
    strat = None  # computed lazily: md5 over 2M ids costs a few seconds
    checkers = {
        "embed_neardup": (check_neardup, False),
        "embed_neardup_strat": (check_neardup, True),
        "decontam_embed": (check_decontam, False),
        "decontam_embed_strat": (check_decontam, True),
    }
    ok, ran = True, 0
    for name, (fn, stratified) in checkers.items():
        if not os.path.isdir(f"{out_dir}/{name}"):
            continue
        if stratified and strat is None:
            strat = strat_mask(ids)
        ok &= fn(name, con, out_dir, ids, V32, norms,
                 strat if stratified else everything)
        ran += 1
    if ran == 0:
        print(f"FAIL embed_oracle: no known dumps under {out_dir} "
              "(expected embed_neardup[_strat] / decontam_embed[_strat])")
        ok = False
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
