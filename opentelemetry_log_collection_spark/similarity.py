"""Similarity search over an embedding column (array<float>).

Two plan families, per the standard ANN playbook:

  - brute_force_topk: the exactness baseline. The (small) query set
    broadcasts; scoring is a map-side nested loop with the cosine
    computed by builtin expressions (left-to-right fold =>
    deterministic summation order), then ONE window per-query top-k.
    Cost: |corpus| x |queries| partial products, no corpus shuffle —
    right up to a few thousand queries.

  - the approximate family: lsh_topk (random-hyperplane sign buckets,
    candidates = bucket collisions), ivf_topk (Voronoi cells around
    sampled centroids, nprobe cells per query) and embedding_near_dups
    (LSH candidates + exact threshold). Every Arrow stage of the family
    calls ONE numpy kernel, ``_vector_kernel``: the exact left-fold
    dots of a batch of vectors against a matrix of hyperplanes or
    centroids, and the vectors' exact left-fold norms. LSH queries and
    corpus rows bucket through the same function (``_lsh_buckets``),
    and IVF queries and corpus rows take their cells from the same
    function (``_ivf_cells``), so the two sides cannot disagree.
    Hyperplanes are derived deterministically from a seed (md5
    stream), never RNG state.

Degenerate vectors. In the approximate family, a vector that is null,
not exactly ``dim`` long, holds a null or non-finite element, or whose
norm is zero (or overflows) is never bucketed, assigned, scored or
returned: the kernel drops it before anything is stacked, in the query
and the corpus position alike. Such a row can neither fail the job nor
collide with anything, and the result equals the same call without it.
brute_force_topk follows the same rule with builtin expressions: a row
whose norm is null, NaN, infinite or zero (a null vector, a null or
non-finite element, an overflow, all zeros) is filtered out on both
sides before the cross join, and a pair whose vectors differ in length
scores no row.

All math is done in DOUBLE after an explicit cast from float32 —
identical left-to-right IEEE ops in any engine, so oracle checks can
reproduce scores bit-for-bit. The kernel adds its products in the
same k order as ``dot``'s fold, so its dots and norms are the doubles
the builtin expressions compute.

Expression notes (measured at 10x bench scale, BENCH.md r6):
  - per-vector norms are computed once per ROW, never once per pair:
    ``sqrt(dot(v,v))`` yields the same double either way, so
    ``dot(a,b)/(na*nb)`` is bit-identical to the naive per-pair
    cosine and drops 2 of the 3 fold evaluations per scored pair
    (brute-force top-k 3.6s -> 1.3s);
  - the dot stays the zip_with+aggregate HOF form everywhere: an
    unrolled ``element_at(a,i)*element_at(b,i)`` chain is ~190
    expression nodes, which join operators evaluate INTERPRETED
    (BroadcastNestedLoopJoin does not whole-stage-codegen its
    projections: measured 4.5s vs 1.3s for the same top-k).
"""

from __future__ import annotations

import hashlib
import struct
from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def _dvec(c: Column) -> Column:
    return c.cast(T.ArrayType(T.DoubleType()))


def dot(a: Column, b: Column) -> Column:
    """Left-fold sum of elementwise products — deterministic order:
    ``((0.0 + a1*b1) + a2*b2) + ...``."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vid, vv): the id and the vector as array<double>."""
    return df.select(
        F.col(id_col).alias("vid"), _dvec(F.col(vec_col)).alias("vv")
    )


def _scored(pairs: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, sim) from (query_id, qv, nq,
    neighbor_id, cv, nc) pairs: the builtin fold ``dot`` over the
    precomputed norms, a query never its own neighbor."""
    return pairs.filter(F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        (dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc"))).alias("sim"),
    )


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """ONE window per-query top-k; ties broken by neighbor_id."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, rank, neighbor_id, sim): exact top-k by cosine.
    Queries broadcast; ties broken by neighbor_id for determinism.
    Norms are computed once per side (same doubles as the per-pair
    form — see module docstring), so each scored pair costs one
    fold dot + one divide. Degenerate vectors are dropped (module
    docstring)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("qv")
    ).withColumn("nq", norm(F.col("qv"))).filter(_usable_norm("nq"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _dvec(F.col(vec_col)).alias("cv")
    ).withColumn("nc", norm(F.col("cv"))).filter(_usable_norm("nc"))
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.size("qv") == F.size("cv")
    )
    return _top_k(_scored(pairs), k)


def _usable_norm(col: str) -> Column:
    """The kernel's rule in Catalyst: the left-fold norm is finite and
    positive. A null vector or element makes it null; NaN sorts above
    +inf in Spark, so ``< inf`` also drops NaN."""
    return (F.col(col) > 0) & (F.col(col) < F.lit(float("inf")))


# --------------------------------------------------------------------
# the approximate family's vector kernel
# --------------------------------------------------------------------


def _left_fold(a, b):
    """``((0.0 + a1*b1) + a2*b2) + ...`` over the last axis, added in k
    order: the doubles ``dot`` folds, bit for bit. Broadcasts, so this
    one loop serves vector-by-matrix panels, norms and pair dots."""
    import numpy as np

    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for k in range(a.shape[-1]):
        acc += a[..., k] * b[..., k]
    return acc


def _vector_kernel(vecs, M):
    """The approximate family's one vector kernel.

    ``vecs`` is a batch of array<double> cells as Arrow hands them to
    pandas (an object array of numpy arrays; a null vector is None, a
    null element NaN); ``M`` is an (m, dim) matrix of hyperplanes or
    centroids. The degenerate-vector rule (module docstring) is applied
    before anything is stacked. Returns ``(keep, V, norms, dots)``: the
    mask of the kept rows of ``vecs``, those vectors stacked (n, dim),
    their left-fold norms (n,) and their left-fold dots against every
    row of ``M`` (n, m)."""
    import numpy as np

    dim = M.shape[1]
    keep = np.fromiter(
        (v is not None and len(v) == dim for v in vecs), bool, len(vecs)
    )
    V = np.stack(vecs[keep]) if keep.any() else np.empty((0, dim))
    with np.errstate(over="ignore", invalid="ignore"):
        norms = np.sqrt(_left_fold(V, V))
    ok = np.isfinite(V).all(axis=1) & np.isfinite(norms) & (norms > 0)
    keep[keep] = ok
    V, norms = V[ok], norms[ok]
    return keep, V, norms, _left_fold(V[:, None, :], M[None, :, :])


# --------------------------------------------------------------------
# random-hyperplane LSH
# --------------------------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-gaussian hyperplanes from an md5 counter
    stream (no RNG state: same planes on every executor, run, engine)."""
    planes: list[list[float]] = []
    for p in range(n_planes):
        row: list[float] = []
        i = 0
        while len(row) < dim:
            h = hashlib.md5(f"{seed}:{p}:{i}".encode()).digest()
            for off in range(0, 16, 4):
                (u,) = struct.unpack_from("<I", h, off)
                # map uniform u to a symmetric triangular-ish value;
                # sign-LSH only needs symmetry around 0
                row.append((u / 2**31) - 1.0)
                if len(row) == dim:
                    break
            i += 1
        planes.append(row)
    return planes


def _lsh_buckets(v: DataFrame, tables: list[list[list[float]]]) -> DataFrame:
    """(vid, vv) -> (tbl, bucket, vid, vv, nv): one row per hash table
    for every vector the kernel keeps, in ONE mapInPandas stage. The
    bucket key is the table's sign bits, '1' where the plane dot is
    >= 0; ``nv`` is the vector's norm. LSH queries and corpus rows both
    bucket here. The vid type is the input's."""
    import pandas as pd

    planes = [p for t in tables for p in t]
    n_pl = len(tables[0])
    id_ddl = v.schema["vid"].dataType.simpleString()

    def buckets(batches):
        import numpy as np

        P = np.array(planes, dtype=np.float64)  # (n_tables*n_pl, dim)
        for pdf in batches:
            vv = pdf["vv"].to_numpy()
            keep, _, nv, dots = _vector_kernel(vv, P)
            if not keep.any():
                continue
            bits = np.where(dots >= 0.0, "1", "0")
            ids, vv = pdf["vid"].to_numpy()[keep], vv[keep]
            yield pd.concat(
                pd.DataFrame(
                    {
                        "tbl": t,
                        "bucket": ["".join(r) for r in bits[:, t * n_pl:(t + 1) * n_pl]],
                        "vid": ids,
                        "vv": vv,
                        "nv": nv,
                    }
                )
                for t in range(len(tables))
            )

    return v.mapInPandas(
        buckets,
        schema=f"tbl int, bucket string, vid {id_ddl}, vv array<double>, nv double",
    )


def _drop_megabuckets(b: DataFrame, max_bucket_size: int) -> DataFrame:
    """Remove rows landing in over-populated (tbl, bucket) cells via a
    broadcast ANTI join against the (tiny, usually empty) oversized
    set — the guard costs one small aggregation, never a join against
    the full bucket census."""
    big = (
        b.groupBy("tbl", "bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_bucket_size)
        .drop("_n")
    )
    return b.join(F.broadcast(big), ["tbl", "bucket"], "left_anti")


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_bucket_size: int | None = 100_000,
) -> DataFrame:
    """Approximate top-k: score bucket collisions map-side, then ONE
    dedup of the (tiny) scored candidate set and the per-query rank.

    Scale shape (the parts that survive 100 TB):
      - queries and corpus rows bucket through the same kernel stage
        (``_lsh_buckets``: exact left-fold plane dots, so a vector gets
        the same key in either position); the corpus bucket rows carry
        their vector and norm, so the per-table collision probe
        (queries broadcast) computes the exact cosine IN the probe
        stage — no candidate-id shuffle, no re-attach join; the corpus
        never shuffles at all here;
      - a pair colliding in several tables yields bit-identical sims,
        so the dedup is a ``distinct`` over the scored rows —
        proportional to candidate count (queries x mean bucket size x
        tables);
      - ``max_bucket_size`` drops corpus-side mega-buckets (hash
        regions so dense they would go quadratic) via a broadcast
        anti-join against the oversized set; skipping them costs
        recall on degenerate near-constant regions only — the
        standard LSH guardrail.

    A degenerate vector (null, not ``dim`` long, a null or non-finite
    element, zero norm) is neither a query nor a candidate: it gets no
    bucket and no row. Missing neighbors (hash misses) are the accepted
    approximation; recall is tunable via n_planes/n_tables (measured in
    tests/test_training_ops.py::test_lsh_recall_vs_brute_force)."""
    from pyspark.storagelevel import StorageLevel

    tables = [_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
    qb = _lsh_buckets(_vectors(queries, id_col, vec_col), tables).select(
        "tbl", "bucket", F.col("vid").alias("query_id"),
        F.col("vv").alias("qv"), F.col("nv").alias("nq"),
    )
    cb = _lsh_buckets(_vectors(corpus, id_col, vec_col), tables).select(
        "tbl", "bucket", F.col("vid").alias("neighbor_id"),
        F.col("vv").alias("cv"), F.col("nv").alias("nc"),
    )
    if max_bucket_size is not None:
        # the guard aggregation and the probe both read the bucket
        # frame — persist so the scan+bucket projection runs once
        cb = cb.persist(StorageLevel.MEMORY_AND_DISK)
        cb = _drop_megabuckets(cb, max_bucket_size)
    # a pair colliding in several tables scores bit-identical sims, so
    # the distinct collapses it exactly
    return _top_k(_scored(cb.join(F.broadcast(qb), ["tbl", "bucket"])).distinct(), k)


# --------------------------------------------------------------------
# IVF-flat
# --------------------------------------------------------------------


def _ivf_cells(v: DataFrame, C, cn, n: int) -> DataFrame:
    """(vid, vv) -> (vid, vv, nv, cell): one row for each of the ``n``
    cells whose centroid is nearest by cosine, for every vector the
    kernel keeps, in ONE mapInPandas stage. ``C`` holds the centroids
    in cell order and ``cn`` their norms; equal sims go to the later
    cell (the oracle's ``ORDER BY sim DESC, cid DESC``). Corpus rows
    (n=1) and queries (n=nprobe) both take their cells here. The vid
    type is the input's."""
    import pandas as pd

    id_ddl = v.schema["vid"].dataType.simpleString()
    m = len(C)

    def cells(batches):
        import numpy as np

        for pdf in batches:
            vv = pdf["vv"].to_numpy()
            keep, _, nv, dots = _vector_kernel(vv, C)
            if not keep.any():
                continue
            sims = dots / np.outer(nv, cn)
            # stable sort of the reversed panel: sim descending, the
            # later cell first among equals
            top = m - 1 - np.argsort(-sims[:, ::-1], axis=1, kind="stable")[:, :n]
            r = top.shape[1]
            yield pd.DataFrame(
                {
                    "vid": np.repeat(pdf["vid"].to_numpy()[keep], r),
                    "vv": np.repeat(vv[keep], r),
                    "nv": np.repeat(nv, r),
                    "cell": top.ravel(),
                }
            )

    return v.mapInPandas(
        cells, schema=f"vid {id_ddl}, vv array<double>, nv double, cell int"
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat approximate top-k: partition the corpus into
    ``n_cells`` Voronoi cells around deterministically SAMPLED
    centroids (the corpus rows whose id, read as an integer, is below
    ``n_cells`` — sampling is a standard IVF centroid init and keeps
    the whole plan replayable in a SQL oracle), probe the ``nprobe``
    cells nearest each query, and exact-re-rank the candidates.

    Scale shape:
      - the centroid table is metadata-sized (n_cells rows), so it is
        collected once; cell assignment then runs as ONE kernel stage
        over the corpus (``_ivf_cells``) — the corpus is scanned once,
        never shuffled, and never blown up n_cells-fold through a
        centroid crossJoin. Queries take their ``nprobe`` cells from
        the same stage;
      - the assigned rows keep their vector + norm, and the probe
        table (queries x nprobe, with query vectors) broadcasts into
        the candidate join, so candidates go straight to the re-rank
        with both vectors already in the row — zero corpus shuffles
        end to end.
    Cells are Voronoi regions, so each corpus vector lives in EXACTLY
    one cell. Recall is tuned by nprobe/n_cells; ties break
    deterministically (later cell on equal sim, lower neighbor_id on
    equal rank).

    A degenerate vector (null, not the centroids' length, a null or
    non-finite element, zero norm) is neither a centroid, a query nor a
    candidate: it is assigned no cell and returns no row. The
    centroids' length is the one most centroid rows share."""
    import numpy as np
    import pandas as pd

    cands = [
        np.array(r["cent"], dtype=np.float64)
        for r in corpus.filter(F.col(id_col).try_cast("long") < n_cells)
        .select(F.col(id_col).alias("cid"), _dvec(F.col(vec_col)).alias("cent"))
        .orderBy("cid")
        .collect()
        if r["cent"] is not None
    ]
    dim = Counter(map(len, cands)).most_common(1)[0][0] if cands else 0
    _, C, cn, _ = _vector_kernel(
        pd.Series(cands, dtype=object).to_numpy(), np.empty((0, dim))
    )
    probes = _ivf_cells(_vectors(queries, id_col, vec_col), C, cn, nprobe).select(
        F.col("vid").alias("query_id"), F.col("vv").alias("qv"),
        F.col("nv").alias("nq"), "cell",
    )
    assign = _ivf_cells(_vectors(corpus, id_col, vec_col), C, cn, 1).select(
        F.col("vid").alias("neighbor_id"), F.col("vv").alias("cv"),
        F.col("nv").alias("nc"), "cell",
    )
    return _top_k(_scored(assign.join(F.broadcast(probes), "cell")), k)


# --------------------------------------------------------------------
# embedding near-duplicates
# --------------------------------------------------------------------


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.92,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 3,
    seed: int = 7,
    max_bucket_size: int | None = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH candidates +
    exact threshold: (doc_a, doc_b, sim) with doc_a < doc_b.

    Plan shape (hand whole batches to vectorized native code, move the
    payload once):

      1. ONE kernel stage (``_lsh_buckets``, the one lsh_topk uses)
         computes every table's bucket key and the norm per vector and
         emits the exploded (tbl, bucket, vid, vv, nv) rows.
      2. ONE shuffle groups by (tbl, bucket); ``applyInPandas`` scores
         each bucket as a matrix: a blocked BLAS gram over normalized
         vectors prefilters at ``threshold - 1e-6`` (BLAS error for
         64-dim doubles is ~1e-14, so no true pair is lost), then the
         surviving pairs are re-verified with the EXACT left-fold
         dot over the carried norms — the returned sims are
         bit-identical to the builtin-expression form.
      3. a ``distinct`` collapses pairs found in several tables
         (identical sims), proportional to the RESULT size.

    Vectors cross the wire exactly once and pairs never do (the plans
    before this one shuffled the full candidate-id stream, ~28s vs ~2s
    at 10x bench scale); per-bucket scoring is O(n_b^2 * dim) BLAS
    flops.

    ``max_bucket_size`` is enforced INSIDE the scorer (an oversized
    group emits nothing — same semantics as dropping its rows before
    the join): a near-constant embedding region would make scoring
    quadratic, so skipping such buckets trades recall only on
    degenerate regions.

    A degenerate vector (null, not ``dim`` long, a null or non-finite
    element, zero norm) gets no bucket, so it is in no pair. The doc id
    type is the input's."""
    import pandas as pd

    tables = [_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
    b = _lsh_buckets(_vectors(df, id_col, vec_col), tables)
    id_ddl = b.schema["vid"].dataType.simpleString()
    thr = float(threshold)
    cap = max_bucket_size

    def score(pdf):
        import numpy as np

        ids = pdf["vid"].to_numpy()
        n = len(pdf)
        if n < 2 or (cap is not None and n > cap):
            return pd.DataFrame(
                {"doc_a": ids[:0], "doc_b": ids[:0], "sim": np.empty(0)}
            )
        V = np.stack(pdf["vv"].to_numpy())
        norms = pdf["nv"].to_numpy()
        Vn = V / norms[:, None]
        ia_all, ib_all = [], []
        blk = max(1, (1 << 24) // n)
        for i0 in range(0, n, blk):
            cand = np.argwhere(Vn[i0:i0 + blk] @ Vn.T >= thr - 1e-6)
            ia_all.append(cand[:, 0] + i0)
            ib_all.append(cand[:, 1])
        ia = np.concatenate(ia_all)
        ib = np.concatenate(ib_all)
        keep = ids[ia] < ids[ib]
        ia, ib = ia[keep], ib[keep]
        # exact re-verify: left-fold dot, carried norms, one divide
        sim = _left_fold(V[ia], V[ib]) / (norms[ia] * norms[ib])
        keep = sim >= thr
        return pd.DataFrame(
            {"doc_a": ids[ia[keep]], "doc_b": ids[ib[keep]], "sim": sim[keep]}
        )

    return (
        b.groupBy("tbl", "bucket")
        .applyInPandas(
            score, schema=f"doc_a {id_ddl}, doc_b {id_ddl}, sim double"
        )
        .distinct()
    )
