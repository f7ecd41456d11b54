"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — brute-force exact top-k: one pass, JVM-side dot
  products via ``zip_with``/``aggregate``, no UDF.  The baseline and the
  verify step for everything else.
* ``cosine_lsh_buckets`` / ``lsh_topk`` — random-hyperplane LSH: sign-bit
  sketches bucket the corpus so the query only joins its own bucket(s).
  The scale path: bucket cardinality ~ n / 2^bits, and the join is an
  equi-join on the bucket key.
* ``ivf_topk`` — IVF-style coarse quantization: assign each vector to the
  nearest of K seeded centroids, probe the query's ``nprobe`` closest
  cells (nprobe=K == exact brute force, tested).

All hyperplanes/centroids derive from a fixed seed — deterministic across
runs and executors.
"""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine_sim(a: Column, b: Column) -> Column:
    return dot(a, b) / F.greatest(l2norm(a) * l2norm(b), F.lit(1e-12))


# --- flat (whole-stage-codegen) dot products -------------------------------
# The zip_with/aggregate forms above are generic over unknown dims but
# evaluate INTERPRETED, one lambda frame per element — at 64 dims x 8
# centroids x N vectors that is the dominant cost of every ANN/near-dup
# plan (same lesson as dedup._expand_bucket_pairs).  When the dimension
# is known (every caller passes `dim`), the identical arithmetic can be
# a flat left-associated `+` chain that Janino compiles into straight
# multiply-adds.  Exactness: the flat chain performs the SAME IEEE ops
# in the SAME order as the fold (x0*y0 + x1*y1 + ...; the fold's 0.0+p0
# seed equals p0), literals render via repr -> strtod (correctly
# rounded), and try_element_at past the array end yields NULL exactly
# like zip_with's padding — so results are bit-identical and every
# value-hash oracle below stays green.

def _flat_dot_lit_sql(vec_sql: str, coeffs: list[float]) -> str:
    return "(" + " + ".join(
        f"try_element_at({vec_sql}, {i + 1})"
        f" * CAST('{float(c)!r}' AS DOUBLE)"
        for i, c in enumerate(coeffs)) + ")"


def _flat_dot_cols_sql(a_sql: str, b_sql: str, dim: int) -> str:
    # each product CASTs to double BEFORE the + chain: on float arrays
    # the HOF fold multiplies in float but accumulates in double (acc is
    # 0.0d), and the flat chain must do the same to stay bit-identical
    # (on double arrays the cast is a no-op)
    return "(" + " + ".join(
        f"CAST(try_element_at({a_sql}, {i + 1})"
        f" * try_element_at({b_sql}, {i + 1}) AS DOUBLE)"
        for i in range(dim)) + ")"


def _flat_sq_sql(vec_sql: str, dim: int) -> str:
    return _flat_dot_cols_sql(vec_sql, vec_sql, dim)


def _py_l2norm(v: list[float]) -> float:
    """Python fold in index order == the Spark fold (both are doubles)."""
    acc = 0.0
    for x in v:
        acc += float(x) * float(x)
    return acc ** 0.5


def cosine_sim_lit(vec_sql: str, query_vec: list[float]) -> Column:
    """cosine_sim(vec, lit(query)) as one flat codegen expression; the
    query's norm folds at plan-build time (identical float path)."""
    d = len(query_vec)
    nq = _py_l2norm([float(x) for x in query_vec])
    return (F.expr(_flat_dot_lit_sql(vec_sql, query_vec))
            / F.greatest(F.sqrt(F.expr(_flat_sq_sql(vec_sql, d)))
                         * F.lit(nq), F.lit(1e-12)))


def cosine_sim_flat(a_sql: str, b_sql: str, dim: int) -> Column:
    """cosine_sim between two array columns of known dim, flat codegen."""
    return (F.expr(_flat_dot_cols_sql(a_sql, b_sql, dim))
            / F.greatest(F.sqrt(F.expr(_flat_sq_sql(a_sql, dim)))
                         * F.sqrt(F.expr(_flat_sq_sql(b_sql, dim))),
                         F.lit(1e-12)))


def cosine_topk(vecs: DataFrame, query_vec: list[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector."""
    # project the double-cast array ONCE, then index it flat (indexing
    # the raw float column would multiply in float precision)
    return (vecs.select(F.col(id_col).alias("vec_id"),
                        F.col(vec_col).cast("array<double>").alias("_v"))
            .select("vec_id",
                    F.round(cosine_sim_lit("_v", query_vec), 6)
                    .alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(k))


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    rnd = random.Random(seed)
    return [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(bits)]


def lsh_buckets_multi(vecs: DataFrame, dim: int, bits: int = 8,
                      tables: int = 1, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      seed: int = 42) -> DataFrame:
    """(vec_id, v, buckets array<bigint>): the sign-bit bucket under
    ``tables`` independent seeded hyperplane sets (table t uses
    ``seed + t``), computed by an Arrow-batched numpy kernel replaying
    the flat chains' left-fold dots exactly (a tables x bits x dim
    expression tree trips Janino's 64 KB method limit at 4 x 8 x 64 —
    the ivf_assign pathology; the kernel compiles in O(1) at any
    width).  NULL / short vectors land in bucket 0 of every table,
    exactly like the NULL-propagating expression chain they replace
    (their candidates are then discarded by the exact verify step)."""
    import numpy as np

    all_planes = [
        [[float(x) for x in p] for p in _hyperplanes(dim, bits, seed + t)]
        for t in range(tables)]

    @F.pandas_udf("array<bigint>")
    def _buckets_of(col: pd.Series) -> pd.Series:
        out = [[0] * tables for _ in range(len(col))]
        # NULL elements arrive as NaN in a float64 ndarray (round-4
        # ADVICE: an `e is None` scan never fires).  NaN rows are
        # excluded from the kernel and keep bucket 0 of every table —
        # the same value NaN propagation through the sign bits yields
        # (NaN >= 0 is False), and exactly what the NULL-propagating
        # expression chain produced; excluding them just makes the
        # contract explicit instead of an IEEE accident.
        ok, rows = [], []
        for i, x in enumerate(col):
            if x is None or len(x) < dim:
                continue
            a = np.asarray(x[:dim])
            if a.dtype == object:        # defensive: None-bearing chunk
                a = np.array([np.nan if e is None else float(e)
                              for e in a])
            a = a.astype(np.float64)
            if np.isnan(a).any():
                continue                 # null/NaN element -> bucket 0
            ok.append(i)
            rows.append(a)
        if not ok:
            return pd.Series(out)
        V = np.stack(rows)
        bks = np.zeros((len(ok), tables), dtype=np.int64)
        for t, planes in enumerate(all_planes):
            for bi, plane in enumerate(planes):
                acc = np.zeros(len(ok))
                for d in range(dim):          # left fold, in order
                    acc = acc + V[:, d] * plane[d]
                # NaN >= 0 is False both here and in the when() chain
                bks[:, t] |= np.where(acc >= 0, np.int64(1) << bi,
                                      np.int64(0))
        for r, i in enumerate(ok):
            out[i] = [int(b) for b in bks[r]]
        return pd.Series(out)

    return (vecs.select(F.col(id_col).alias("vec_id"),
                        F.col(vec_col).alias("v"),
                        F.col(vec_col).cast("array<double>").alias("_vd"))
            .select("vec_id", "v", _buckets_of("_vd").alias("buckets")))


def cosine_lsh_buckets(vecs: DataFrame, dim: int, bits: int = 8,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       seed: int = 42) -> DataFrame:
    b = lsh_buckets_multi(vecs, dim, bits, 1, id_col, vec_col, seed)
    return b.select("vec_id", "v",
                    F.element_at("buckets", 1).alias("bucket"))


def lsh_topk(vecs: DataFrame, query_vec: list[float], dim: int, k: int = 10,
             bits: int = 8, id_col: str = "vec_id",
             vec_col: str = "embedding", seed: int = 42,
             probes: int = 4) -> DataFrame:
    """Approximate top-k: exact rescoring restricted to the query's
    bucket(s).

    MULTI-PROBE (Lv et al. 2007): besides the query's own bucket, probe
    the buckets reached by flipping SUBSETS of sign bits in increasing
    total-margin order (smallest |<q, plane>| first — near-boundary
    planes are where true neighbors land on the other side; subsets via
    a k-smallest-subset-sums heap so probes=2^bits is genuinely
    exhaustive and reproduces brute force exactly, tested).  ``probes``
    buckets total; probes=1 is classic single-bucket LSH.  Recall is
    monotone in ``probes`` and data-dependent: near-random vectors (the
    synthetic testdata) gain roughly the probed corpus fraction, while
    clustered real embeddings gain much more per probe.
    """
    import heapq

    planes = _hyperplanes(dim, bits, seed)
    bucketed = cosine_lsh_buckets(vecs, dim, bits, id_col, vec_col, seed)
    # bucket + margins depend only on the literal vector + seeded planes:
    # plain python, no Spark job, and no crash on an empty corpus
    qbucket = 0
    margins: list[tuple[float, int]] = []
    for i, plane in enumerate(planes):
        d = sum(float(a) * b for a, b in zip(query_vec, plane))
        if d >= 0:
            qbucket |= 1 << i
        margins.append((abs(d), i))
    margins.sort()
    costs = [c for c, _ in margins]
    masks = [1 << i for _, i in margins]
    # Enumerate flip SUBSETS in nondecreasing total-margin order (k
    # smallest subset sums via heap), so multi-bit flips are reachable
    # and probes=2^bits is genuinely exhaustive.
    probe_buckets = [qbucket]
    if costs and probes > 1:
        heap = [(costs[0], (0,))]
        while heap and len(probe_buckets) < min(probes, 1 << bits):
            c, subset = heapq.heappop(heap)
            b = qbucket
            for p in subset:
                b ^= masks[p]
            probe_buckets.append(b)
            last = subset[-1]
            if last + 1 < len(costs):
                heapq.heappush(heap, (c + costs[last + 1], subset + (last + 1,)))
                heapq.heappush(heap, (c - costs[last] + costs[last + 1],
                                      subset[:-1] + (last + 1,)))
    return (bucketed.filter(F.col("bucket").isin(probe_buckets))
            .select("vec_id",
                    F.col("v").cast("array<double>").alias("_v"))
            .select("vec_id",
                    F.round(cosine_sim_lit("_v", query_vec), 6)
                    .alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(k))


def ivf_centroids(vecs: DataFrame, dim: int, k_cells: int = 16,
                  vec_col: str = "embedding", seed: int = 42) -> list[list[float]]:
    """Seeded random projection of the first k_cells sample rows as
    centroids (one-pass, deterministic; good enough as a coarse quantizer
    skeleton — swap in k-means at scale)."""
    sample = [r[0] for r in
              vecs.select(vec_col).orderBy(F.xxhash64(F.col(vec_col).cast("string")))
              .limit(k_cells).collect()]
    rnd = random.Random(seed)
    while len(sample) < k_cells:
        sample.append([rnd.gauss(0, 1) for _ in range(dim)])
    return [list(map(float, v)) for v in sample]


def ivf_train(vecs: DataFrame, k_cells: int = 8, iters: int = 2,
              id_col: str = "vec_id", vec_col: str = "embedding",
              ) -> tuple[list[list[float]], list[float]]:
    """REAL k-means coarse quantizer (Lloyd's, exact fixed-point — see
    ``operators/kmeans.py``) replacing the one-pass random sample.

    Returns ``(centroids, first_vec)``: the trained float centroids
    (micro-unit ints / 1e6, so bit-reproducible under any partitioning)
    plus the raw embedding of the smallest-id row.  The k-means seed and
    that first vector come out of ONE bounded collect (k_cells rows), so
    a caller using the first row as its query vector — the q32 pattern —
    runs no separate lookup job.  Per iteration: one codegen projection
    (assign) + one map-side-combinable groupBy reduced to k*dim rows.
    """
    from .kmeans import assign_clusters, quantize, update_centroids

    # Seed from the k_cells smallest-id rows with a USABLE embedding:
    # a NULL vector, or one with a NULL, NaN or +-inf element, quantizes
    # to a NULL/null-element qv that the int() comprehension below cannot
    # take, so the filter runs on qv itself.  Such rows still get
    # ASSIGNED later (the kernel gives them the NULL/-1 sentinel) — they
    # are only excluded as seeds.
    init = (vecs.select(F.col(id_col).alias("vec_id"),
                        F.col(vec_col).alias("v"),
                        quantize(F.col(vec_col)).alias("qv"))
            .filter(F.col("qv").isNotNull() &
                    ~F.exists("qv", lambda x: x.isNull()))
            .orderBy("vec_id").limit(k_cells)
            .collect())
    assert len(init) <= k_cells  # bounded: LIMIT k_cells
    if not init:
        return [], []
    first_vec = [float(x) for x in init[0]["v"]]
    centroids = [[int(x) for x in r["qv"]] for r in init]
    dim = max(len(c) for c in centroids)
    rnd = random.Random(42)
    while len(centroids) < k_cells:  # tiny corpus: pad deterministically
        centroids.append([int(rnd.gauss(0, 1) * 1e6) for _ in range(dim)])
    for _ in range(iters):
        assigned = assign_clusters(vecs, centroids, id_col, vec_col)
        centroids, _sizes = update_centroids(assigned, centroids)
    return [[v / 1e6 for v in c] for c in centroids], first_vec


def ivf_assign(vecs: DataFrame, centroids: list[list[float]],
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Nearest-centroid cell id per vector via an Arrow-batched numpy
    kernel that replays the engine's left-fold summation EXACTLY.

    Why not a column expression: a K-way argmax over flat dot chains is
    K*dim product terms inside ONE whole-stage-codegen ``doConsume``
    method — codegen cannot split expressions bound to local variables,
    so Janino's 64 KB method limit trips already at K=8 x dim=64 (the
    q32 config) and Spark silently re-runs the stage INTERPRETED, and at
    K=64 x dim=256 Janino compilation itself OOMs the driver.  The
    vectorized kernel compiles in O(1), scales to any K*dim, and is an
    order of magnitude faster per batch than the interpreted fallback.

    Bit-exactness contract (what the q32 DuckDB oracle replays): every
    accumulation is an in-index-order left fold over float64 —
    ``acc = (acc + v[i]*c[i])`` — identical IEEE ops in identical order
    to both the flat codegen chains used elsewhere in this module and
    DuckDB's ``list_reduce``.  The numpy loop folds one dimension at a
    time across the whole batch (vectorized over rows, ordered over
    dims), so results are bit-identical to the expression form.

    Semantics: ties argmax to the SMALLEST centroid index (strictly-
    greater update); NULL vectors, vectors shorter than the centroid
    dim, and vectors containing a NULL/NaN element keep the -1 'no
    cell' sentinel (they would otherwise silently
    join cell 0's candidate set); longer vectors use their first ``dim``
    elements, exactly like ``try_element_at`` chains.
    """
    staged = vecs.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"),
        F.col(vec_col).cast("array<double>").alias("_vd"))
    if not centroids:
        return staged.select("vec_id", "v",
                             F.lit(-1).cast("int").alias("cell"))
    dim = max(len(c) for c in centroids)
    cents = [[float(x) for x in c] + [0.0] * (dim - len(c))
             for c in centroids]
    cnorms = [_py_l2norm(c) for c in centroids]

    @F.pandas_udf("int")
    def _cell_of(col: pd.Series) -> pd.Series:
        import numpy as np
        out = np.full(len(col), -1, dtype=np.int32)
        # NULL elements arrive from pyarrow as NaN in a float64 ndarray
        # (never Python None — round-4 ADVICE): without this isnan
        # screen the NaN sims never beat best_sim and the row silently
        # took cell 0 instead of the -1 'no cell' sentinel — the
        # round-3 all-NULL bug class at element granularity.
        ok, rows = [], []
        for i, x in enumerate(col):
            if x is None or len(x) < dim:
                continue
            a = np.asarray(x[:dim])
            if a.dtype == object:        # defensive: None-bearing chunk
                a = np.array([np.nan if e is None else float(e)
                              for e in a])
            a = a.astype(np.float64)
            if np.isnan(a).any():
                continue                 # null/NaN element -> -1 sentinel
            ok.append(i)
            rows.append(a)
        if not ok:
            return pd.Series(out)
        V = np.stack(rows)
        acc = np.zeros(len(ok))
        for d in range(dim):              # left fold, one dim at a time
            acc = acc + V[:, d] * V[:, d]
        nv = np.sqrt(acc)
        best_sim = np.full(len(ok), -np.inf)
        best_cell = np.zeros(len(ok), dtype=np.int32)
        for k, c in enumerate(cents):
            acc = np.zeros(len(ok))
            for d in range(dim):
                acc = acc + V[:, d] * c[d]
            sim = acc / np.maximum(nv * cnorms[k], 1e-12)
            upd = sim > best_sim          # ties keep the smaller index
            best_sim = np.where(upd, sim, best_sim)
            best_cell = np.where(upd, k, best_cell)
        out[ok] = best_cell
        return pd.Series(out)

    return staged.select("vec_id", "v", _cell_of("_vd").alias("cell"))


def ivf_topk(vecs: DataFrame, query_vec: list[float],
             centroids: list[list[float]], k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             nprobe: int = 2) -> DataFrame:
    """IVF approximate top-k: exact rescoring restricted to the
    ``nprobe`` cells whose centroids are most cosine-similar to the
    query (the classic IVF nprobe knob).  nprobe=len(centroids) probes
    every cell and reproduces the brute-force top-k exactly.

    Cell assignment is one broadcast-free column expression per vector
    (``ivf_assign``); the query's cell ranking is plain Python over the
    centroid list — no Spark job before the probe filter.
    """
    def _cos(a: list[float], b: list[float]) -> float:
        d = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return d / max(na * nb, 1e-12)

    ranked = sorted(range(len(centroids)),
                    key=lambda i: -_cos(query_vec, centroids[i]))
    probe_cells = ranked[:max(1, nprobe)]
    assigned = ivf_assign(vecs, centroids, id_col, vec_col)
    # Probe-cell restriction as a BROADCAST SEMI-JOIN, not a filter:
    # `filter(cell.isin(...))` gets pushed through the projection by
    # substituting the alias, inlining the full K-way argmax into one
    # fused filter predicate — a single codegen method that trips
    # Janino's 64 KB limit once K*dim grows (interpreted fallback).
    # A join key is an attribute reference, never substituted, so the
    # argmax stays in its own projection (whose codegen splits into
    # many small methods) and the probe restriction is a broadcast
    # hash lookup on the tiny cell list.
    probe_df = vecs.sparkSession.createDataFrame(
        [(int(c),) for c in probe_cells], "cell int")
    return (assigned.join(F.broadcast(probe_df), "cell", "left_semi")
            .select("vec_id",
                    F.col("v").cast("array<double>").alias("_v"))
            .select("vec_id",
                    F.round(cosine_sim_lit("_v", query_vec), 6)
                    .alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(k))
