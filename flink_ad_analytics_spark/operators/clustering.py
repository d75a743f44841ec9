"""K-means clustering over embedding columns, and the IVF and PQ ANN
indexes it trains.

One family, on the fixed-point integer lattice (second half of this
module): every declared clustering query and the streaming IVF absorb
run on it.

* **Init** is a deterministic hash-ordered sample: the k vectors with
  the smallest md5(seed:vec_id) -- reproducible across partitioning,
  re-runs, and engines (same trick as operators/sampling.py).
* **Fit** (``kmeans_fixedpoint``, ``pq_fixedpoint``): a fixed number
  of Lloyd updates in exact integer arithmetic on floor-quantized
  coordinates, ties to the lowest cluster id. Each iteration is one
  corpus pass plus a (cluster, dim)-grain partial-sum shuffle; the
  k-row centroid state is localCheckpointed per round.
* **Assign / serve** (``kmeans_fixedpoint_assign``,
  ``ivf_fixedpoint_topk``, ``pq_fixedpoint_codes``,
  ``pq_fixedpoint_topk``): exact integer squared distances, so probe
  choice, codes and rankings are engine-reproducible and every
  serving query is a full DuckDB-oracle row.

The exact-decimal bridge (``kmeans_step_stats``,
``kmeans_update_stats``, ``pq_codes_stats``, ``semantic_dedup``) runs
ONE Lloyd assignment step from the float hash-sampled init with exact
DECIMAL distance folds (the operators/similarity.py recipe), so both
halves of a float Lloyd iteration and the static-codebook PQ encode
are value-provable against DuckDB.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

#: Exact decimal squared-distance fold between an array<float> column
#: and a double array column: each (x-c)^2 is an exact-then-rounded
#: DECIMAL(20,16) term, accumulated exactly in DECIMAL(38,16) --
#: order-independent, hence engine-independent. The result STAYS
#: decimal (rounded to 12dp): downstream per-cluster sums must also be
#: exact, and a double SUM's value depends on summation order.
_DIST2_FOLD = (
    "CAST(round(aggregate("
    "zip_with({v}, {c}, (x, y) -> "
    "CAST((CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y) "
    "AS DECIMAL(20,16))), "
    "CAST(0 AS DECIMAL(38,16)), "
    "(acc, t) -> CAST(acc + t AS DECIMAL(38,16))), 12) AS DECIMAL(38,12))"
)


def hash_sampled_centroids(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
) -> DataFrame:
    """The k vectors with the smallest md5(seed:id): a deterministic,
    partitioning-independent init sample (k-means++ would inject
    sequential dependence; a hash sample is the scalable standard)."""
    h = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # top-k + driver merge of k rows) -- no global sort. The window
    # numbering then runs over just those k rows.
    top = (
        emb.select(F.col(id_col), F.col(vec_col), h.alias("__h"))
        .orderBy(F.col("__h").asc(), F.col(id_col).asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("__h").asc(), F.col(id_col).asc())
    return top.select(
        (F.row_number().over(w) - 1).cast("int").alias("centroid_id"),
        F.col(vec_col).alias("centroid"),
    )


#: Double-prescreen margin for the literal-centroid argmin below. The
#: plain double fold deviates from the exact decimal fold by far less
#: than this: per term, the decimal path rounds to 16dp (<= 5e-17) and
#: the double path's IEEE error is <= a few ulp of the running sum;
#: over 64 terms with |d2| <= ~1e3 the total deviation is < 1e-11, and
#: the exact fold's own terminal 12dp round adds <= 5e-13. Candidates
#: whose exact d2 could win (including exact 12dp ties, which must
#: reach the cid tie-break) therefore sit within 2 * 1e-11 of the
#: double minimum -- five orders of magnitude inside this margin.
#:
#: Domain: each exact term (x - y)^2 is cast to DECIMAL(20,16), which
#: holds at most 4 integer digits, so the exact fold is defined only
#: while every per-coordinate |x - y| < 100 (|x| < 50 on both sides
#: suffices); beyond that the term cast overflows.
_PRESCREEN_EPS = "1.0E-6"


def _dbl_arr_sql(vals) -> str:
    """A literal ARRAY<DOUBLE> (repr() emits shortest round-trip
    decimals, and the CAST pins the element type: bare fractional
    literals parse as DECIMAL in Spark SQL).

    Precondition: every value is finite. repr() would print NaN/Inf as
    ``nan``/``inf``, which Spark SQL reads as unknown column names, so
    they are rejected here with a ValueError instead of an opaque
    analysis error at query build."""
    vals = [float(v) for v in vals]
    if not all(math.isfinite(v) for v in vals):
        raise ValueError(
            "centroid literals must be finite: a NaN/Inf embedding was "
            "sampled as a centroid, and the exact-decimal argmin is "
            "defined only on finite inputs"
        )
    return "CAST(array(" + ",".join(map(repr, vals)) + ") AS ARRAY<DOUBLE>)"


def _argmin_winner_sql(cent_arrs: list[list[float]], vec_expr: str) -> str:
    """struct<d2: decimal(38,12), cid: int> -- the exact-decimal argmin
    of ``vec_expr`` against the LITERAL centroid list, evaluated as one
    per-row expression (guide §1.2/§2.4, r13 session 2):

    * all k distances are first computed with the plain DOUBLE fold
      (primitive arithmetic -- no per-term BigDecimal allocation),
    * only candidates within ``_PRESCREEN_EPS`` of the double minimum
      are rescored with the exact decimal fold (~1 per row), and the
      (d2, cid)-min of those is the winner -- identical to scoring
      every candidate exactly, by the margin argument above.

    This is NOT the r12-rejected map-side argmin: that rewrite kept
    all k decimal folds and added a struct per candidate; here the
    decimal work itself drops k-fold, structs are allocated only for
    survivors, and the pair blow-up + argmin window exchange disappear
    from the consumers' plans entirely (the k centroid rows ride in as
    literals -- the same bounded driver state the fixed-point fits
    already collect()).

    The outer single-element aggregate binds the double-distance array
    as a lambda variable -- the ahash_signatures lesson: a projected
    intermediate would be re-inlined (and re-evaluated) per consumer
    by CollapseProject, but a lambda binding cannot be.
    """
    k = len(cent_arrs)
    cc = "array(" + ",".join(_dbl_arr_sql(c) for c in cent_arrs) + ")"
    # ds via transform over the ONE centroid literal (not one spelled
    # fold per candidate): halves the expression tree, which is pure
    # driver-side analysis/codegen cost -- measured first-run -33% and
    # steady -12% on pq_codes vs the per-candidate spelling, values
    # identical (the pq CASE rejection showed tree size is a real
    # per-iteration tax in fit loops)
    d2a = (
        f"transform({cc}, c -> aggregate(zip_with({vec_expr}, c, (x, y) -> "
        f"(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        f"CAST(0 AS DOUBLE), (a, t) -> a + t))"
    )
    exact_j = (
        f"CAST(round(aggregate(zip_with({vec_expr}, element_at({cc}, j + 1), "
        f"(x, y) -> CAST((CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y) "
        f"AS DECIMAL(20,16))), "
        f"CAST(0 AS DECIMAL(38,16)), "
        f"(acc, t) -> CAST(acc + t AS DECIMAL(38,16))), 12) AS DECIMAL(38,12))"
    )
    zero = "named_struct('d2', CAST(NULL AS DECIMAL(38,12)), 'cid', -1)"
    return (
        f"aggregate(array({d2a}), {zero}, (z, ds) -> "
        f"aggregate("
        f"filter(sequence(0, {k - 1}), j -> "
        f"element_at(ds, j + 1) <= array_min(ds) + {_PRESCREEN_EPS}), "
        f"{zero}, "
        f"(best, j) -> IF(best.cid = -1 OR {exact_j} < best.d2, "
        f"named_struct('d2', {exact_j}, 'cid', j), best)))"
    )


def _collect_init_centroids(
    emb: DataFrame, k: int, id_col: str, vec_col: str, seed: int
) -> list[list[float]]:
    """The hash-sampled init as driver-side literals, ordered by
    centroid_id (k <= 16 rows -- bounded driver state)."""
    rows = hash_sampled_centroids(emb, k, id_col, vec_col, seed).collect()
    return [
        [float(x) for x in r.centroid]
        for r in sorted(rows, key=lambda r: r.centroid_id)
    ]


def _assign_to_init(
    emb: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    seed: int,
) -> DataFrame:
    """Exact-decimal nearest-init-centroid assignment: (id, centroid_id,
    d2). Shared by the two oracle-bridge stats below.

    r13: pure per-row projection against the collected init centroids
    (double prescreen + exact rescore, `_argmin_winner_sql`) instead of
    the n*k broadcast-join pair relation + per-id argmin window: the
    exact decimal folds drop from k to ~1 per row and the window
    exchange/sort leave the plan. `inline` binds the winner struct once
    per row (field extraction on the raw expression would re-evaluate
    the whole argmin per field). Value-identical to the window form --
    `_assign_to_init_reference` keeps that form as the test anchor
    (test_assign_prescreen_matches_reference)."""
    cents = _collect_init_centroids(emb, k, id_col, vec_col, seed)
    if not cents:
        return emb.sparkSession.createDataFrame(
            [], f"{id_col} long, centroid_id int, d2 decimal(38,12)"
        )
    w = _argmin_winner_sql(cents, vec_col)
    return emb.select(
        F.col(id_col), F.expr(f"inline(array({w}))")
    ).select(
        F.col(id_col),
        F.col("cid").alias("centroid_id"),
        F.col("d2"),
    )


def _assign_to_init_reference(
    emb: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    seed: int,
) -> DataFrame:
    """The pre-r13 window-argmin form of `_assign_to_init` (exact
    decimal fold for every (vector, centroid) pair, per-id rank
    window). Mirrors the DuckDB oracle's shape one-to-one; kept as the
    equality anchor the prescreen form is tested against."""
    cents = hash_sampled_centroids(emb, k, id_col, vec_col, seed).select(
        "centroid_id",
        F.expr("transform(centroid, x -> CAST(x AS DOUBLE))").alias("centroid"),
    )
    dist2 = _DIST2_FOLD.format(v=vec_col, c="centroid")
    pairs = emb.select(id_col, vec_col).crossJoin(F.broadcast(cents)).select(
        F.col(id_col),
        F.col("centroid_id"),
        F.expr(dist2).alias("d2"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("d2").asc(), F.col("centroid_id").asc()
    )
    return (
        pairs.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .drop("__r")
    )


def kmeans_step_stats(
    emb: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
) -> DataFrame:
    """One exact Lloyd assignment step, oracle-provable.

    Assigns every vector to its nearest hash-sampled init centroid
    using the exact DECIMAL distance fold (ties broken by centroid
    id), then reports per-cluster membership stats. This is the
    SQL-expressible core of the k-means iteration: the driver's
    DuckDB gate proves the engine's distances, argmin, and
    aggregation bit-match an independent implementation.
    """
    best = _assign_to_init(emb, k, id_col, vec_col, seed)
    return best.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(id_col).alias("sum_ids"),
        # d2 is DECIMAL: the group sum is exact, so one terminal
        # round + double cast is engine-independent
        F.round(F.sum("d2"), 6).cast("double").alias("sum_d2"),
    )


def kmeans_update_stats(
    emb: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
) -> DataFrame:
    """Exact sufficient statistics of the Lloyd CENTROID UPDATE:
    per-(cluster, dimension) member count and exact decimal component
    sum (new centroid dim = sum_x / n_vecs, division left to the
    consumer so no engine-specific decimal-division scale enters the
    gate).

    Together with kmeans_step_stats (the assignment half), both halves
    of a Lloyd iteration are value-proven against the DuckDB oracle.

    Scale: posexplode fans each vector into d rows, but the per-(k x d)
    aggregation partial-aggregates map-side, so the exchange carries at
    most n_partitions x k x d rows.
    """
    # r13: the assignment rides the SAME projection as the dimension
    # explode (one `inline` Generate binds the winner struct per row,
    # the posexplode Generate above it repeats the bound attribute per
    # dimension) -- the pre-r13 join of the exploded dims against the
    # windowed assignment, and both of its exchanges, are gone.
    cents = _collect_init_centroids(emb, k, id_col, vec_col, seed)
    if not cents:
        return emb.sparkSession.createDataFrame(
            [], "centroid_id long, pos long, n_vecs long, sum_x double"
        )
    w = _argmin_winner_sql(cents, vec_col)
    assigned = emb.select(
        F.col(vec_col), F.expr(f"inline(array({w}))")
    )
    dims = assigned.select(
        F.col("cid").alias("centroid_id"),
        F.posexplode(vec_col).alias("pos", "x"),
    )
    return (
        dims.groupBy("centroid_id", "pos")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sum(F.col("x").cast("double").cast("decimal(20,16)")), 12
            )
            .cast("double")
            .alias("sum_x"),
        )
        .select(
            F.col("centroid_id").cast("long").alias("centroid_id"),
            F.col("pos").cast("long").alias("pos"),
            "n_vecs",
            "sum_x",
        )
    )


def pq_codes_stats(
    emb: DataFrame,
    *,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
) -> DataFrame:
    """Exact-decimal PQ encoding against STATIC codebooks (the shared
    hash-sampled init sliced per subspace -- a PQ fit at zero Lloyd
    iterations): the SQL-expressible core of PQ encoding,
    value-provable against the DuckDB oracle the way kmeans_step_stats
    proves the Lloyd assignment.

    Output: one row per (vector, subspace) -- (id, sub, code, d2) --
    where code is the argmin-distance codeword (ties by codeword id)
    and d2 the exact decimal subspace distance, rounded once.

    Scale (r13): one per-row projection -- an array of m winner
    structs (per-subspace double prescreen + exact decimal rescore of
    the ~1 margin survivor, `_argmin_winner_sql`) posexploded to
    (id, sub) grain. The pre-r13 n x m x k candidate relation (two
    broadcast crossJoins + per-(vector, subspace) argmin window, k
    decimal folds per output row) is gone: exact folds drop 16x and
    the window exchange/sort leave the plan.
    """
    d = len(emb.select(vec_col).first()[0])
    if d % m:
        raise ValueError(f"dims {d} not divisible by m={m}")
    dsub = d // m
    cents = _collect_init_centroids(emb, k, id_col, vec_col, seed)
    if not cents:
        return emb.sparkSession.createDataFrame(
            [], f"{id_col} long, sub long, code long, d2 double"
        )
    winners = []
    for sub in range(m):
        vs = f"slice({vec_col}, {sub * dsub + 1}, {dsub})"
        sliced = [c[sub * dsub : (sub + 1) * dsub] for c in cents]
        winners.append(_argmin_winner_sql(sliced, vs))
    warr = "array(" + ",".join(winners) + ")"
    return emb.select(
        F.col(id_col), F.posexplode(F.expr(warr)).alias("sub", "w")
    ).select(
        F.col(id_col),
        F.col("sub").cast("long").alias("sub"),
        F.col("w.cid").cast("long").alias("code"),
        F.round(F.col("w.d2"), 6).cast("double").alias("d2"),
    )


#: semantic_dedup materializes its assignment pass via an in-query lazy
#: localCheckpoint (see the function body); flag exposed for A/B
#: measurement harnesses only.
_SEMANTIC_DEDUP_CHECKPOINT = True


def semantic_dedup(
    emb: DataFrame,
    *,
    k: int = 10,
    seed: int = 11,
    threshold: float = 0.8,
    n_salts: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv 2303.09540): cluster the embedding
    space, then within each cluster drop every item whose cosine to a
    smaller-id item is >= threshold.

    This is the semantic complement of the lexical dedup family:
    MinHash/SimHash catch near-identical TEXT, SemDeDup catches
    near-identical MEANING (translations, templated rewrites,
    boilerplate paraphrases). Clustering bounds the pair space to
    within-cluster candidates, and one hot cluster is split across
    n_salts tasks.

    Cost model (honest): assignment is O(n*k) distance folds, pair
    scoring O(n^2/k) prescreens -- total minimized at k ~ sqrt(n)
    (O(n^1.5)), NOT linear; the committed scale curve
    (.benchmarks/scale_curve.json) measures exactly this superlinear
    growth with 100% planted-dup recovery at every size; raise k
    toward sqrt(n) as the corpus grows.

    The keep rule is greedy in id order (an item is dropped iff a
    KEPT-or-dropped smaller-id near-dup exists), the order-free
    parallel form of the paper's sequential greedy scan -- exactly one
    EXISTS per item, no iteration. Transitive chains thus behave like
    the paper's implementation: b~a drops b, c~b drops c even if
    c!~a.

    Assignment uses the exact-decimal nearest-init-centroid step
    (`_assign_to_init`, the oracle-proven Lloyd half); scoring uses
    the double-fold prescreen + exact-decimal rescore idiom from
    `similarity.cosine_near_dup_pairs`, so the whole operator is
    value-exact across engines. Zero-norm vectors (cosine undefined)
    never pair and are always kept.

    Output: (id, cluster_id, keep) -- filter keep for the survivors.
    """
    from .similarity import _dot, _dot_fast, _norm

    # r13: the cluster assignment is a per-row expression against the
    # collected init centroids (prescreened exact argmin,
    # `_argmin_winner_sql`) computed in the SAME projection as the norm
    # -- the pre-r13 assignment subtree (n*k pair relation + argmin
    # window) and the join re-attaching the embedding payload are both
    # gone; `base` is now one straight scan-projection.
    cents = _collect_init_centroids(emb, k, id_col, vec_col, seed)
    if not cents:
        return emb.sparkSession.createDataFrame(
            [], f"{id_col} long, cluster_id long, keep boolean"
        )
    win = _argmin_winner_sql(cents, vec_col)
    base = emb.select(
        F.col(id_col),
        F.expr(f"({win}).cid").cast("long").alias("cluster_id"),
        F.col(vec_col),
        _norm(vec_col).alias("nrm"),
    )
    # In-query materialization of the assignment (r12 verdict item 3):
    # three consumers read ``base`` -- both salted pair-join sides and
    # the final keep join -- and the exact-decimal O(n*k) assignment
    # subtree is canonically different under each consumer's column
    # pruning, so Catalyst re-executes it three times (plan evidence:
    # plans/r13/semantic_dedup_before.txt scans the embeddings 6x).
    # A LAZY localCheckpoint evaluates it once per invocation, INSIDE
    # the caller's timed action (nothing is precomputed across runs:
    # every invocation rebuilds from the parquet inputs), and the
    # persisted blocks are released by the ContextCleaner when the
    # result DataFrame is dropped. At corpus scale this removes two
    # full O(n*k) distance passes; fault tolerance of the checkpointed
    # blocks is the standard localCheckpoint trade, acceptable for an
    # intra-query intermediate. SERIALIZED storage (PySpark's
    # MEMORY_AND_DISK level), not the deserialized JVM default: the
    # relation carries the embedding payload, and deserialized row
    # unroll across 32 tasks is exactly what OOMed the dsir checkpoint
    # at sf10; serialized blocks store compactly and spill under
    # pressure. (Module flag so measurement harnesses can A/B the
    # recompute form in one session.)
    if _SEMANTIC_DEDUP_CHECKPOINT:
        from pyspark.storagelevel import StorageLevel

        base = base.localCheckpoint(
            eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
    scorable = base.filter(F.col("nrm") > 0)
    n_part = max(k, 1) * n_salts
    a = scorable.select(
        F.col(id_col).alias("q_id"),
        "cluster_id",
        F.col(vec_col).alias("q_emb"),
        F.col("nrm").alias("qn"),
        # pmod, not %: Spark's % is sign-preserving, so a signed hash
        # id would salt outside [0, n_salts) and silently never join
        # the candidate side's {0..n_salts-1} replicas
        F.pmod(F.col(id_col), F.lit(n_salts)).cast("int").alias("__salt"),
    ).repartition(n_part, "cluster_id", "__salt")
    b = (
        scorable.select(
            F.col(id_col).alias("c_id"),
            "cluster_id",
            F.col(vec_col).alias("c_emb"),
            F.col("nrm").alias("cn"),
        )
        .withColumn(
            "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
        )
        .repartition(n_part, "cluster_id", "__salt")
    )
    cand = (
        a.join(b, ["cluster_id", "__salt"])
        .filter(F.col("q_id") < F.col("c_id"))
        .drop("__salt")
    )
    approx = _dot_fast("q_emb", "c_emb") / (F.col("qn") * F.col("cn"))
    near = (
        cand.filter(approx >= F.lit(threshold - 1e-5))
        .withColumn(
            "cosine",
            F.round(_dot("q_emb", "c_emb") / (F.col("qn") * F.col("cn")), 6),
        )
        .filter(F.col("cosine") >= threshold)
    )
    dropped = (
        near.select(F.col("c_id").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return base.join(dropped, id_col, "left").select(
        F.col(id_col),
        F.col("cluster_id"),
        F.col("__dup").isNull().alias("keep"),
    )


# ---------------------------------------------------------------------------
# Fixed-point (integer-lattice) k-means: the REPRODUCIBILITY-FIRST
# variant. Embeddings are floor-quantized to a shifted integer lattice
# (q = floor(x * SCALE) + SHIFT, the operators/sampling.py kcenter
# recipe), init is the same hash-pinned sample, every Lloyd update is
# exact integer arithmetic with round-half-up centroid averaging via
# (2*S + n) div (2*n) on NON-NEGATIVE ints (floor-div == truncating
# div there, so Spark `div` and DuckDB `//` agree bit-for-bit), and
# ties break to the lowest cluster id. The ENTIRE iterative fit --
# centroids, assignments, inertia -- is therefore value-reproducible
# on any engine, which is what makes the registered kmeans/IVF/PQ
# queries full DuckDB-oracle rows instead of rows-only gates.
#
# Scale shape: the per-iteration corpus pass is a broadcast join
# against k centroid rows + a (cluster, dim)-grain partial-sum shuffle
# (k*d tiny rows after map-side combine); the k-row centroid state is
# localCheckpointed per round (the repo's iterative-loop house style,
# bounding plan growth). The interpreted HOF distance fold is the
# honest cost of exactness here.
# ---------------------------------------------------------------------------

FP_SCALE = 10_000
FP_SHIFT = 1 << 20  # keeps quantized coords positive for |x| < 104


def _fp_quantize(
    emb: DataFrame, id_col: str, vec_col: str, extra: list[str] | None = None
) -> DataFrame:
    q = (
        f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * {FP_SCALE}) "
        f"AS BIGINT) + {FP_SHIFT})"
    )
    return emb.select(
        F.col(id_col), *(extra or []), F.expr(q).alias("q")
    )


_FP_DIST = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "CAST(0 AS BIGINT), (acc, t) -> acc + t)"
)


def kmeans_fixedpoint(
    emb: DataFrame,
    *,
    k: int = 10,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
) -> DataFrame:
    """Fixed ``iters`` Lloyd updates on the integer lattice; returns
    the final centroids as (cid int, c array<bigint>). No early stop:
    a data-dependent stopping rule would have to be replicated by the
    oracle; a fixed iteration count is reproducible by construction."""
    h = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    qv = _fp_quantize(emb, id_col, vec_col)
    init = (
        qv.withColumn("__h", h)
        .orderBy(F.col("__h").asc(), F.col(id_col).asc())
        .limit(k)
    )
    w0 = Window.orderBy(F.col("__h").asc(), F.col(id_col).asc())
    cent = init.select(
        (F.row_number().over(w0) - 1).cast("int").alias("cid"),
        F.col("q").alias("c"),
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        assigned = _fp_assign(qv, cent, id_col)
        upd = (
            assigned.select("cid", F.posexplode("q").alias("d", "v"))
            .groupBy("cid", "d")
            .agg(F.sum("v").alias("S"), F.count(F.lit(1)).alias("n"))
            .withColumn("nv", F.expr("(2 * S + n) div (2 * n)"))
            .groupBy("cid")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(d, nv))), "
                    "s -> s.nv)"
                ).alias("c_new")
            )
        )
        cent = (
            cent.join(upd, "cid", "left")
            .select(
                "cid",
                # empty clusters keep their previous centroid
                F.coalesce(F.col("c_new"), F.col("c")).alias("c"),
            )
            .localCheckpoint(eager=True)
        )
    return cent


def _fp_inline_winner_sql(cent_rows: list[tuple[int, list[int]]], q_expr: str) -> str:
    """struct<cid int, dist2 bigint>: integer argmin of ``q_expr``
    against LITERAL fixed-point centroids, as one per-row expression.

    The k exact integer distances land in ONE bound array (the outer
    single-element aggregate is the lambda-binding idiom), and

        cid   = cids[array_position(ds, array_min(ds))]
        dist2 = array_min(ds)

    ``array_position`` returns the FIRST index of the minimum, which IS
    the lowest-cid tie-break -- so, unlike the r12-rejected map-side
    argmin, NO struct is allocated per candidate (that allocation is
    what lost the r12 A/B); one struct per row carries the result out.
    Adopting this deletes the broadcast join (n*k joined rows, each
    copying the 64-bigint q array), the WindowGroupLimit sort, and the
    per-id window exchange from every consumer's plan. Measured
    same-session interleaved (min-of-6, both orders, sf0.1):
    one-shot assign 0.316->0.278s, 4-iteration fit 2.05->1.71s
    (.benchmarks/fp_assign_inline_ab.json)."""
    cids = (
        "CAST(array("
        + ",".join(str(c) for c, _ in cent_rows)
        + ") AS ARRAY<INT>)"
    )
    cc = (
        "array("
        + ",".join(
            "CAST(array("
            + ",".join(str(int(v)) for v in vec)
            + ") AS ARRAY<BIGINT>)"
            for _, vec in cent_rows
        )
        + ")"
    )
    # one transform over the single centroid literal (see
    # _argmin_winner_sql: halves the expression tree, trimming the
    # per-iteration analysis tax in the fit loop), values identical
    d2 = (
        f"transform({cc}, c -> aggregate(zip_with({q_expr}, c, "
        f"(x, y) -> (x - y) * (x - y)), "
        f"CAST(0 AS BIGINT), (acc, t) -> acc + t))"
    )
    return (
        f"aggregate(array({d2}), "
        f"named_struct('cid', CAST(-1 AS INT), 'dist2', CAST(-1 AS BIGINT)), "
        f"(z, ds) -> named_struct("
        f"'cid', element_at({cids}, CAST(array_position(ds, array_min(ds)) AS INT)), "
        f"'dist2', array_min(ds)))"
    )


def _collect_fp_cent(cent: DataFrame) -> list[tuple[int, list[int]]]:
    """The k-row fixed-point centroid relation as driver-side literals
    (bounded state -- the relation is localCheckpointed k rows by
    construction), ordered by cid."""
    return sorted(
        (int(r.cid), [int(x) for x in r.c])
        for r in cent.select("cid", "c").collect()
    )


def _fp_assign(qv: DataFrame, cent: DataFrame, id_col: str) -> DataFrame:
    """argmin-distance assignment of quantized rows against the k-row
    centroid relation, ties to the lowest cid. Output keeps the
    quantized vector for the update step.

    r13: per-row literal argmin (`_fp_inline_winner_sql`) instead of
    the broadcast-join pair relation + per-id rank window; values
    identical (test_fp_assign_inline_matches_reference), plan loses
    the join and the window exchange/sort."""
    rows = _collect_fp_cent(cent)
    if not rows:
        from pyspark.sql import types as T

        schema = T.StructType(
            list(qv.schema.fields)
            + [
                T.StructField("cid", T.IntegerType()),
                T.StructField("dist2", T.LongType()),
            ]
        )
        return qv.sparkSession.createDataFrame([], schema)
    win = _fp_inline_winner_sql(rows, "q")
    return qv.select("*", F.expr(f"inline(array({win}))"))


def _fp_assign_reference(qv: DataFrame, cent: DataFrame, id_col: str) -> DataFrame:
    """The pre-r13 window form of `_fp_assign` (broadcast join + per-id
    rank window), kept as the equality anchor for the inline form."""
    dist = F.expr(_FP_DIST.format(a="q", b="c"))
    w = Window.partitionBy(id_col).orderBy("dist2", "cid")
    return (
        qv.join(F.broadcast(cent))
        .withColumn("dist2", dist)
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .drop("__r", "c")
    )


def kmeans_fixedpoint_assign(
    emb: DataFrame,
    cent: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra: list[str] | None = None,
) -> DataFrame:
    """(id, extra..., cluster, dist2): exact integer assignment of the
    full corpus against fixed-point centroids."""
    qv = _fp_quantize(emb, id_col, vec_col, extra)
    return _fp_assign(qv, cent, id_col).select(
        id_col, *(extra or []), F.col("cid").alias("cluster"), "dist2"
    )


def ivf_fixedpoint_assign(
    emb: DataFrame,
    cent: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF INVERTED-LIST relation: every vector's quantized
    coordinates plus its nearest-centroid bucket and assignment
    residual -> (c_id, bucket, c_q, dist2). Deterministic in (corpus,
    centroids), so queries_pipeline persists it as a warehouse index
    artifact (the PQ-codes pattern): serving reads the lists instead
    of re-assigning the corpus per query.

    ``dist2`` (the exact integer squared distance to the owning
    centroid) rides along since round 12: summed over any slice of
    the lists it is the k-means inertia of that slice, which makes
    the lists table the STALENESS LEDGER for the fixed-centroid
    absorb contract -- a fresh shard's mean residual vs the fit-time
    standing mean is the drift signal ``ivf_drift_stats`` reports,
    with zero extra passes (the residual is computed during
    assignment anyway)."""
    qv = _fp_quantize(emb, id_col, vec_col)
    return _fp_assign(qv, cent, id_col).select(
        F.col(id_col).alias("c_id"),
        F.col("cid").alias("bucket"),
        F.col("q").alias("c_q"),
        "dist2",
    )


def ivf_fixedpoint_topk(
    emb: DataFrame,
    cent: DataFrame,
    *,
    query_filter,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN over fixed-point k-means centroids, scored by EXACT
    integer squared distance (so the whole search -- probe choice,
    candidate set, ranking -- is engine-reproducible and full-oracle
    gated).

    Inverted lists keyed by nearest centroid (the bucket shuffle key);
    each query probes its ``nprobe`` nearest lists (ties to lowest
    cid); top-k by (dist2, candidate id). Queries and the k-row
    centroid table broadcast; per-list work is bounded by list size --
    the standard serving shape.

    ``assigned``: a precomputed inverted-list relation
    (ivf_fixedpoint_assign output, e.g. the persisted index
    artifact). May carry DUPLICATE ``c_id`` rows -- an at-least-once
    streaming maintainer (streaming_ivf_absorb) replaying a batch, or
    a legitimately re-delivered vector, appends bit-identical rows
    (assignment is a pure function of (vector, centroids)) -- the
    one-list-row-per-vector serving contract is enforced HERE, not
    left to the loader (ADVICE r11): ranking by dense_rank makes
    bit-identical replays tie on (dist2, c_id) and share a rank, so
    WindowGroupLimit's map-side partial top-k pruning stays sound and
    in-plan (row_number-over-duplicates would mis-rank, and deduping
    before the window would forfeit the partial prune); the residual
    duplicate rows are collapsed AFTER the rank<=k filter, an
    exchange over at most queries*k surviving rows. Assigned on the
    fly when omitted.
    """
    if assigned is None:
        assigned = ivf_fixedpoint_assign(
            emb, cent, id_col=id_col, vec_col=vec_col
        )
    queries = _fp_quantize(emb.filter(query_filter), id_col, vec_col).select(
        F.col(id_col).alias("q_id"), F.col("q").alias("q_q")
    )
    wp = Window.partitionBy("q_id").orderBy("c_dist2", "cid")
    probes = (
        queries.join(F.broadcast(cent))
        .withColumn("c_dist2", F.expr(_FP_DIST.format(a="q_q", b="c")))
        .withColumn("__r", F.row_number().over(wp))
        .filter(F.col("__r") <= nprobe)
        .select("q_id", "q_q", F.col("cid").alias("bucket"))
    )
    wk = Window.partitionBy("q_id").orderBy("dist2", "c_id")
    return (
        assigned.join(F.broadcast(probes), "bucket")
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("dist2", F.expr(_FP_DIST.format(a="q_q", b="c_q")))
        # dense_rank: distinct candidates never tie on (dist2, c_id),
        # so this equals row_number on a duplicate-free list table,
        # while replayed rows (same c_id => same c_q => same dist2)
        # share a rank instead of inflating later ranks
        .withColumn("rank", F.dense_rank().over(wk).cast("long"))
        .filter(F.col("rank") <= k)
        .dropDuplicates(["q_id", "c_id"])
        .select("q_id", "c_id", "dist2", "rank")
    )


#: Fresh-shard mean residual / fit-time standing mean residual above
#: which the standing IVF is declared STALE and a refit is requested.
#: MEASURED, not guessed: tools/ivf_drift_campaign.py perturbs a fresh
#: shard by increasing noise amplitudes and records (drift_ratio,
#: recall@5 of the fixed-centroid nprobe serve vs probing every list)
#: per magnitude -- .benchmarks/ivf_drift_threshold.json. At 400
#: queries / sf0.1: recall holds within 0.024 of the delta=0 level up
#: to ratio 1.34, first material decay (-0.085) at ratio 2.37, and
#: the refit branch recovers it (0.479 -> 0.571 there; 0.436 -> 0.779
#: at ratio 6.5). The pin is the midpoint, so the trigger fires
#: before serving quality degrades rather than after; the
#: in-distribution absorb shard samples at ~1.05, far in-gate.
#: A benign uniform TRANSLATION can also exceed the gate with recall
#: intact (control row: ratio 5.16, recall 0.82) -- but it collapses
#: the shard into few buckets (hot-bucket share 0.50 vs 0.11 even),
#: so the refit it triggers is still the right call: it restores
#: list balance, the other axis of serving health.
IVF_DRIFT_STALE_RATIO = 1.85


def ivf_drift_stats(
    standing_lists: DataFrame,
    fresh_assigned: DataFrame,
    *,
    stale_ratio: float = IVF_DRIFT_STALE_RATIO,
) -> DataFrame:
    """One-row DRIFT REPORT for the fixed-centroid absorb contract
    (VERDICT r11 item 2): the standing IVF's centroids are fixed
    forever by design -- that is what makes absorb mergeable -- so
    under distribution drift its recall decays SILENTLY. The signal:
    both relations carry the assignment residual (``dist2``,
    ivf_fixedpoint_assign), and a fresh shard drawn from the fit-time
    distribution has the same mean residual as the standing corpus,
    while a drifted shard sits farther from every centroid.  Output:
    (n_standing, standing_mean_dist2, n_fresh, fresh_mean_dist2,
    drift_ratio, stale) -- integer sums divided in double, so the
    whole report is engine-reproducible and DuckDB-oracle-gated
    (ann_ivf_drift).

    Cost: one aggregate over each list relation -- no extra distance
    evaluations (the residual was computed during assignment anyway).
    At 100 TB the standing side's (sum, n) is maintained as a running
    pair by the ingest path (streaming_ivf_absorb appends per-batch
    partials), so the report never re-scans the standing lists."""
    s = standing_lists.agg(
        F.count(F.lit(1)).alias("n_standing"),
        F.sum("dist2").alias("__sum_s"),
    )
    f = fresh_assigned.agg(
        F.count(F.lit(1)).alias("n_fresh"),
        F.sum("dist2").alias("__sum_f"),
    )
    mean_s = F.col("__sum_s").cast("double") / F.col("n_standing")
    mean_f = F.col("__sum_f").cast("double") / F.col("n_fresh")
    ratio = mean_f / mean_s
    return (
        s.crossJoin(f)  # 1 row x 1 row
        .select(
            "n_standing",
            mean_s.alias("standing_mean_dist2"),
            "n_fresh",
            mean_f.alias("fresh_mean_dist2"),
            ratio.alias("drift_ratio"),
            (ratio > F.lit(float(stale_ratio))).alias("stale"),
        )
    )


def ivf_absorb_or_refit(
    standing: DataFrame,
    fresh: DataFrame,
    cent: DataFrame,
    standing_lists: DataFrame,
    *,
    k: int,
    iters: int,
    seed: int,
    stale_ratio: float = IVF_DRIFT_STALE_RATIO,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """The REFIT TRIGGER for the absorb contract: assign the fresh
    shard to the standing centroids, read the one-row drift report,
    and either
      ("absorb", cent, merged_lists, stats)  -- ratio in-gate: the
        cheap mergeable path, |fresh| x k distance evals + append; or
      ("refit",  new_cent, new_lists, stats) -- ratio over the
        measured stale threshold: re-fit on standing UNION fresh and
        rebuild the lists ONCE under the new centroid artifact (the
        fitstore contract: new fit tag => new lists artifact).
    The only driver-side data movement is the single drift-stats row.
    Recovery is measured, not assumed: tests/test_ivf_drift.py plants
    a shifted-distribution shard, asserts recall decays under
    fixed-centroid absorb, the trigger fires, and post-refit recall
    returns to the in-distribution level."""
    fresh_assigned = ivf_fixedpoint_assign(
        fresh, cent, id_col=id_col, vec_col=vec_col
    )
    stats = ivf_drift_stats(
        standing_lists, fresh_assigned, stale_ratio=stale_ratio
    ).collect()[0]
    if not stats["stale"]:
        return (
            "absorb",
            cent,
            standing_lists.unionByName(fresh_assigned),
            stats,
        )
    union = standing.unionByName(fresh)
    new_cent = kmeans_fixedpoint(
        union, k=k, iters=iters, seed=seed, id_col=id_col, vec_col=vec_col
    )
    new_lists = ivf_fixedpoint_assign(
        union, new_cent, id_col=id_col, vec_col=vec_col
    )
    return ("refit", new_cent, new_lists, stats)


def pq_fixedpoint(
    emb: DataFrame,
    *,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
    dims: int = 64,
) -> DataFrame:
    """Fixed-point product-quantization codebooks: slice the lattice-
    quantized vector into ``m`` contiguous subspaces and run the
    integer Lloyd loop in each (keys (sub, cid)); all subspaces share
    the hash-pinned init sample (the standard PQ init). Returns
    (sub int, cid int, c array<bigint>[dims/m]) -- fully reproducible,
    hence DuckDB-oracle-able end to end (fit + encode + ADC search).
    """
    dsub = dims // m
    if dims % m:
        raise ValueError(f"dims {dims} not divisible by m={m}")
    h = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    qv = _fp_quantize(emb, id_col, vec_col)
    slices = F.expr(
        f"transform(sequence(0, {m - 1}), j -> slice(q, j * {dsub} + 1, {dsub}))"
    )
    sv = qv.select(
        id_col, F.posexplode(slices).alias("sub", "qs")
    )
    init_ids = (
        qv.withColumn("__h", h)
        .orderBy(F.col("__h").asc(), F.col(id_col).asc())
        .limit(k)
    )
    w0 = Window.orderBy(F.col("__h").asc(), F.col(id_col).asc())
    # rank each sampled VECTOR first, then explode its subspaces: a
    # single select mixing row_number() with posexplode would number
    # the post-explode rows (cids 0..k*m-1 interleaved across
    # subspaces) instead of giving every subspace the same 0..k-1
    # labels the oracle assigns -- with tie distances, the
    # "lowest cid wins" rule would then diverge between engines
    ranked = init_ids.select(
        (F.row_number().over(w0) - 1).cast("int").alias("cid"), "q"
    )
    init_ranked = ranked.select(
        "cid", F.posexplode(slices).alias("sub", "c")
    )
    cb = init_ranked.select("sub", "cid", "c").localCheckpoint(eager=True)
    for _ in range(iters):
        assigned = _pq_fp_assign(sv, cb)
        upd = (
            assigned.select("sub", "cid", F.posexplode("qs").alias("d", "v"))
            .groupBy("sub", "cid", "d")
            .agg(F.sum("v").alias("S"), F.count(F.lit(1)).alias("n"))
            .withColumn("nv", F.expr("(2 * S + n) div (2 * n)"))
            .groupBy("sub", "cid")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(d, nv))), "
                    "s -> s.nv)"
                ).alias("c_new")
            )
        )
        cb = (
            cb.join(upd, ["sub", "cid"], "left")
            .select(
                "sub",
                "cid",
                F.coalesce(F.col("c_new"), F.col("c")).alias("c"),
            )
            .localCheckpoint(eager=True)
        )
    return cb


def _pq_fp_assign(sv: DataFrame, cb: DataFrame) -> DataFrame:
    """Per-(vector, subspace) argmin code against the broadcast
    codebook, ties to the lowest cid.

    Deliberately NOT the `_fp_assign` literal-argmin form: a CASE-
    per-sub variant (8 branches x 16 literal codeword arrays) was
    built, proven value-identical, and REJECTED on an interleaved A/B
    inside the 3-iteration pq fit -- 2.89s window vs 3.31s inline,
    losing every pairing; the per-iteration driver-side analysis /
    constant-folding of the 128-literal-array expression outweighs
    the join + (id, sub) rank window it removes
    (.benchmarks/pq_fp_inline_negative.json)."""
    dist = F.expr(_FP_DIST.format(a="qs", b="c"))
    w = Window.partitionBy(sv.columns[0], "sub").orderBy("dist2", "cid")
    return (
        sv.join(F.broadcast(cb), "sub")
        .withColumn("dist2", dist)
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .drop("__r", "c")
    )


def pq_fixedpoint_codes(
    emb: DataFrame,
    cb: DataFrame,
    *,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """ENCODE: assign every vector's m subspace slices to their
    nearest fixed-point codebook entries -> (c_id, sub, code). Split
    out of pq_fixedpoint_topk because the code relation is an INDEX
    ARTIFACT: deterministic in (corpus, codebooks), tiny (m small ints
    per vector), and paid once at ingest in a real serving system --
    queries_pipeline persists it next to the codebooks the way
    _coloc_table persists bucket layouts."""
    dsub = dims // m
    qv = _fp_quantize(emb, id_col, vec_col)
    slices = F.expr(
        f"transform(sequence(0, {m - 1}), j -> slice(q, j * {dsub} + 1, {dsub}))"
    )
    sv = qv.select(id_col, F.posexplode(slices).alias("sub", "qs"))
    return _pq_fp_assign(sv, cb).select(
        F.col(id_col).alias("c_id"), "sub", F.col("cid").alias("code")
    )


def pq_fixedpoint_topk(
    emb: DataFrame,
    cb: DataFrame,
    *,
    query_filter,
    k: int = 5,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    codes: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k over fixed-point PQ codes: candidates are stored as m
    small integer codes; a query scans them with a per-(query, sub,
    code) integer distance table (the classic asymmetric-distance
    shape: |q| x m x k_codes table rows, candidate scan is a sum of m
    lookups). Exact integer arithmetic end to end -> full oracle.

    ``codes``: pre-encoded (c_id, sub, code) relation (e.g. the
    persisted index artifact); encoded on the fly when omitted.
    """
    dsub = dims // m
    slices = F.expr(
        f"transform(sequence(0, {m - 1}), j -> slice(q, j * {dsub} + 1, {dsub}))"
    )
    if codes is None:
        codes = pq_fixedpoint_codes(
            emb, cb, m=m, id_col=id_col, vec_col=vec_col, dims=dims
        )
    queries = _fp_quantize(emb.filter(query_filter), id_col, vec_col).select(
        F.col(id_col).alias("q_id"), F.posexplode(slices).alias("sub", "qs")
    )
    qtab = (
        queries.join(F.broadcast(cb), "sub")
        .select(
            "q_id",
            "sub",
            F.col("cid").alias("code"),
            F.expr(_FP_DIST.format(a="qs", b="c")).alias("d"),
        )
    )
    wk = Window.partitionBy("q_id").orderBy("adc_dist2", "c_id")
    return (
        codes.join(F.broadcast(qtab), ["sub", "code"])
        .filter(F.col("q_id") != F.col("c_id"))
        .groupBy("q_id", "c_id")
        .agg(F.sum("d").alias("adc_dist2"))
        .withColumn("rank", F.row_number().over(wk).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "adc_dist2", "rank")
    )
