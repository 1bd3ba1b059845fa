"""Deduplication operators for large-scale training-data pipelines
(SURVEY.md §2.12 E1/E2): exact, n-gram Jaccard, MinHash+LSH, SimHash.

All are pure DataFrame algebra — shingling, hashing, banding and bucketing
compile to codegen'd higher-order functions; the only shuffles are the
band-bucket groupBy and the candidate-pair join.  No pyspark.ml stage is
used: a hand-rolled signature is deterministic across runs/clusters (fixed
integer seeds baked into the plan) and keeps the 100 TB story pure shuffle
algebra (ml's MinHashLSH materializes model state on the driver).

Scale notes:
- MinHash-LSH is the linear-scan killer: candidates come from equality on
  (band_idx, band_hash) — a plain hash shuffle — instead of an O(n²) cross
  join.  Bucket skew (a boilerplate shingle shared by everything) is the
  real-world risk: AQE skew-join handles moderate skew; pathological
  buckets should be capped (dropped) upstream — buckets larger than
  ``max_bucket_size`` are filtered before the pair join.
- SimHash is one explode + 64 columnar sums: shuffle volume is
  O(docs × 64 ints), independent of vocabulary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# ── exact ────────────────────────────────────────────────────────────────


def exact_dedup(df: DataFrame, subset: list[str], id_col: str) -> DataFrame:
    """Keep the min-id row per duplicate group (deterministic, unlike
    dropDuplicates which keeps an arbitrary row)."""
    w = Window.partitionBy(*subset).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ── tokenization / shingling ─────────────────────────────────────────────


def tokens_col(text_col: str) -> Column:
    return F.split(F.col(text_col), " ")


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, s) rows of token n-gram shingles — the codegen-friendly shape.

    ``explode(sequence(...))`` + ``slice``/``concat_ws`` keep every hot
    expression inside whole-stage codegen; the Generate node is also a
    projection barrier, so the token array is computed once per document
    (CollapseProject cannot inline it into the per-shingle projection, which
    would re-split the text per shingle — the trap the transform-lambda
    form falls into).
    """
    toks = df.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("__toks")
    )
    pos = toks.select(
        "id",
        "__toks",
        F.explode(
            F.expr(f"sequence(1, greatest(size(__toks) - {n} + 1, 1))")
        ).alias("__i"),
    )
    return pos.select(
        "id", F.concat_ws(" ", F.slice("__toks", F.col("__i"), n)).alias("s")
    )


# ── n-gram Jaccard (exact set-similarity join, prefix-filtered) ──────────


def _verify_jaccard_by_counts(
    cand: DataFrame, tok: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard for candidate pairs WITHOUT materializing per-doc
    shingle arrays: |A∩B| comes from joining the (id, s) shingle rows of
    both sides on the shingle value, |A∪B| from per-doc distinct counts
    (|A| + |B| − |A∩B|).

    The collect_list alternative builds one array cell holding a document's
    entire shingle set and drags it through two joins — at 100 TB a single
    long document becomes a single oversized row (executor OOM, skewed
    shuffle blocks).  Here every shuffled row is (id, shingle): the join on
    (id_b, s) is a plain hash shuffle with per-shingle granularity, and the
    aggregates are map-side-combinable counts.  Volume is Σ|A| over
    candidate pairs — proportional to the verification work itself.

    Requires threshold > 0: pairs with an empty intersection vanish in the
    inner join, which is exactly the ``jaccard = 0 < threshold`` outcome.

    ``cand``: (id_a, id_b) candidate pairs, optionally pre-annotated with
    set sizes as ``__sz_a``/``__sz_b`` (the prefix-filter join already
    carries them — reusing them avoids re-evaluating the shingle pipeline
    for a size aggregate); ``tok``: (id, s) distinct shingle rows.  Sizes
    ride through the intersect-count groupBy as grouping keys (functionally
    dependent on the ids), so no post-aggregate join is needed.  Returns
    (id_a, id_b, jaccard) with jaccard rounded to 6 (the oracle-parity
    convention used across the dedup family).
    """
    if threshold <= 0:
        raise ValueError(f"threshold must be > 0, got {threshold}")
    if "__sz_a" not in cand.columns:
        sz = tok.groupBy("id").agg(F.count("*").alias("__sz"))
        cand = cand.join(
            sz.withColumnsRenamed({"id": "id_a", "__sz": "__sz_a"}), "id_a"
        ).join(sz.withColumnsRenamed({"id": "id_b", "__sz": "__sz_b"}), "id_b")
    ta = tok.select(F.col("id").alias("id_a"), "s")
    tb = tok.select(F.col("id").alias("id_b"), "s")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "s"])
        .groupBy("id_a", "id_b", "__sz_a", "__sz_b")
        .agg(F.count("*").alias("__inter"))
    )
    return (
        inter.select(
            "id_a",
            "id_b",
            F.round(
                F.col("__inter").cast("double")
                / (F.col("__sz_a") + F.col("__sz_b") - F.col("__inter")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT n-gram Jaccard ≥ threshold pairs via a prefix-filtered
    set-similarity join (AllPairs/PPJoin family) — same answer as the naive
    O(n²) cross join, but candidate pairs come from an equality join.

    Exactness: under any global token ordering, two sets with
    J(A,B) ≥ t must share a token within each one's first
    ``|X| − ceil(t·|X|) + 1`` tokens (else all common tokens sit in a
    suffix smaller than the required overlap t·|X|).  We order tokens by
    ascending document frequency (rarest first) so prefixes hit the small
    buckets of a Zipfian vocabulary — at 100 TB, frequency ordering is what
    keeps the candidate join from exploding on stop-words.  A size filter
    (t·max ≤ min) prunes further, then the PPJoin POSITIONAL filter: a
    shared prefix token at (0-based) positions p_a, p_b bounds the overlap
    by ``1 + min(|A|−p_a−1, |B|−p_b−1)`` (everything before the shared
    token in either ordered set is disjoint from the other's remainder in
    the best case); J ≥ t needs overlap ≥ t·(|A|+|B|)/(1+t), so pairs whose
    best (max over shared prefix tokens) bound falls short are dropped
    BEFORE the verification joins — on repetitive/degenerate vocabularies
    (synthetic corpora, boilerplate-heavy web text) this prunes the bulk
    of the candidates the prefix join alone lets through.  Survivors are
    verified with the exact Jaccard count join.

    Shuffle profile: explode-prefix join on token (hash shuffle, AQE
    skew-split) + two joins back to the (id, token) rows; no cross join
    anywhere.
    """
    # Materialize the distinct shingle rows ONCE (round 12, opt guide §5):
    # ``tok`` is consumed by four downstream subtrees (dfreq, the ordered
    # reassembly, and both verification join sides), and without an
    # explicit materialization each consumer re-runs the scan + trigram
    # explode + distinct — AQE's runtime stage reuse does not rescue it
    # because the consumers sit above differently-shaped parents
    # (measured: 10 parquet scans / 12 Generate nodes in the executed
    # plan; whole-kernel CPU 4.1 → 2.4 s, shuffle 34 → 18 MB at sf0.1
    # with this checkpoint).  The explicit ``repartition("id")`` makes
    # the distinct's exchange ALSO satisfy the ordered-reassembly
    # ``groupBy("id")`` (hashpartitioning(id) clusters (id, t)), so the
    # materialized frame is born in the partitioning its heaviest
    # consumer needs — one exchange instead of two.  At 100 TB the
    # checkpoint holds the deduped shingle rows (≈ corpus token volume)
    # on executor-local disk; recomputing them 4× is strictly worse.
    tok = (
        shingle_rows(df, id_col, text_col, n)
        .withColumnRenamed("s", "t")
        .repartition("id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    dfreq = tok.groupBy("t").agg(F.count("*").alias("df"))
    # Re-assemble each doc's tokens ordered (df asc, token asc) — a global
    # total order shared by all docs, required for prefix-filter soundness.
    ordered = (
        tok.join(dfreq, "t")
        .groupBy("id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(df, t))), x -> x.t)"
            ).alias("sh")
        )
    )
    pref = ordered.select(
        "id",
        "sh",
        F.size("sh").alias("sz"),
        F.expr(
            f"slice(sh, 1, size(sh) - CAST(ceil({threshold} * size(sh)) AS INT) + 1)"
        ).alias("prefix"),
    )
    ex = pref.select(
        "id", "sz", F.posexplode("prefix").alias("p", "t")
    )
    a = ex.select(
        "t",
        F.col("id").alias("id_a"),
        F.col("sz").alias("sz_a"),
        F.col("p").alias("p_a"),
    )
    b = ex.select(
        "t",
        F.col("id").alias("id_b"),
        F.col("sz").alias("sz_b"),
        F.col("p").alias("p_b"),
    )
    # minimal integer overlap for J ≥ t: inter/(sa+sb−inter) ≥ t ⟺
    # inter ≥ t·(sa+sb)/(1+t); the 1e-9 guards the ceil against double
    # round-up on exact-integer boundaries
    o_req = F.expr(
        f"CAST(ceil({threshold} * (sz_a + sz_b) / (1 + {threshold}) - 1e-9) AS INT)"
    )
    ubound = F.lit(1) + F.least(
        F.col("sz_a") - F.col("p_a") - 1, F.col("sz_b") - F.col("p_b") - 1
    )
    cand = (
        a.join(b, "t")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("sz_a", "sz_b")
                >= F.greatest("sz_a", "sz_b") * F.lit(threshold)
            )
        )
        .select("id_a", "id_b", "sz_a", "sz_b", ubound.alias("__ub"))
        # the groupBy replaces the old .distinct() (same exchange) and the
        # positional filter runs on its output: keep a pair only if its
        # BEST shared-prefix-token bound can still reach the required
        # overlap.  Sizes ride along (functionally dependent on the ids)
        # so the verification step needs no size re-aggregation.
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.max("__ub").alias("__ub"))
        .filter(F.col("__ub") >= o_req)
        .select(
            "id_a",
            "id_b",
            F.col("sz_a").alias("__sz_a"),
            F.col("sz_b").alias("__sz_b"),
        )
    )
    # verify by shingle-row counts, not by joining the assembled arrays:
    # the ordered arrays exist only to cut prefixes; carrying them through
    # the verification joins would re-introduce per-doc array cells
    return _verify_jaccard_by_counts(
        cand, tok.withColumnRenamed("t", "s"), threshold
    )


# ── MinHash + LSH ────────────────────────────────────────────────────────


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """(id, sig array<bigint>[num_hashes]): sig_i = min over shingles of
    hash_i(shingle).  Deterministic: seeds are plan constants.

    ``portable=False`` (production): hash_i = xxhash64(xxhash64(s, seed), i)
    — one cheap JVM hash per shingle plus num_hashes integer hashes.
    ``portable=True`` (cross-engine verification): base = 60-bit md5
    (functions/porthash.py) reduced mod 2³¹−1, hash_i = (a_i·h + b_i) mod
    2³¹−1 — the classic universal family, computable identically in DuckDB
    so the oracle recomputes the whole signature.  Same plan shape either
    way; md5 costs ~3× xxhash64 per shingle, which is why it is the
    verification mode, not the default.

    Shape: explode shingles → one string hash each → ``num_hashes``
    codegen'd ``min(...)`` aggregations.  Higher-order-function
    lambdas (transform/array_min) are interpreted, not codegen'd — a nested
    transform formulation is ~40× slower.  The explode+groupBy form keeps
    every hot expression inside whole-stage codegen, and partial (map-side)
    aggregation means the shuffle carries only (id, num_hashes × i64) per
    doc, independent of document length — the shape that survives 100 TB.
    """
    from ..functions.porthash import P31, md5_60_spark, minhash_coeffs

    if portable:
        base = f"{md5_60_spark('s', seed)} % {P31}"
        coeffs = minhash_coeffs(num_hashes, seed)
        perm = [f"(__h * {a} + {b}) % {P31}" for a, b in coeffs]
    else:
        base = f"xxhash64(s, {seed})"
        perm = [f"xxhash64(__h, {i})" for i in range(num_hashes)]
    toks = shingle_rows(df, id_col, text_col, n).select(
        "id", F.expr(base).alias("__h")
    )
    # one parsed SQL string per aggregate (identical analyzed plan to
    # F.min(F.expr(...)).alias(...), a third of the py4j round-trips)
    mins = toks.groupBy("id").agg(
        *[F.expr(f"min({perm[i]}) AS __m{i}") for i in range(num_hashes)]
    )
    return mins.selectExpr(
        "id",
        f"array({', '.join(f'__m{i}' for i in range(num_hashes))}) AS sig",
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    threshold: float = 0.5,
    max_bucket_size: int = 10_000,
    portable: bool = False,
) -> DataFrame:
    """Near-dup candidate pairs via banding, verified with exact Jaccard.

    rows-per-band r = num_hashes/bands tunes the S-curve: P(candidate) =
    1-(1-j^r)^b.  Buckets larger than ``max_bucket_size`` are dropped (skew
    guard; a bucket of size m yields m² pairs).

    ``portable=True`` switches the signature to the md5/universal-hash
    family (see :func:`minhash_signature`) and the band key from
    ``xxhash64(slice)`` to an integer polynomial fold of the band's
    signature values (``acc = (acc·A + m) mod 2³¹−1``) — both recomputable
    in DuckDB, so the full candidate-generation + verification pipeline
    has an exact SQL twin.  The fold stays a single i64 per banded row
    (same shuffle width as production) and all-integer codegen; a fold
    collision can only ADD a candidate pair (later exact-verified), never
    lose one, so exactness is unaffected.
    """
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    r = num_hashes // bands
    # minhash_signature ends in an Aggregate — an exchange barrier, so the
    # signature is materialized once; downstream band expressions reference
    # cheap attribute columns, never the hash pipeline.
    sigs = minhash_signature(df, id_col, text_col, n, num_hashes, seed, portable)
    if portable:
        # band key = polynomial fold of the band's signature values over
        # p = 2³¹−1 (functions/porthash.py BAND_A multiplier): plain
        # integer arithmetic both engines evaluate identically.  Built as
        # one explicit nested expression per band (element_at accesses are
        # codegen'd; an aggregate() HOF lambda would be interpreted).
        from ..functions.porthash import BAND_A, P31

        def fold(j: int) -> str:
            acc = "CAST(0 AS BIGINT)"
            for i in range(r):
                acc = f"(({acc}) * {BAND_A} + sig[{j * r + i}]) % {P31}"
            return acc

        band_expr = f"array({', '.join(fold(j) for j in range(bands))})"
    else:
        # band hash = xxhash64 over the band's signature slice (array
        # hashing is native — no string assembly in the hot path)
        band_expr = (
            f"transform(sequence(0, {bands - 1}), b -> "
            f"xxhash64(slice(sig, b * {r} + 1, {r}), b))"
        )
    banded = sigs.select(
        "id",
        F.posexplode(F.expr(band_expr)).alias("band_idx", "band_hash"),
    )
    # skew guard: drop pathological buckets before the self-join.  groupBy
    # (map-side partial agg) + broadcast anti-join against the tiny
    # oversized-bucket list — cheaper than a window count, which would
    # sort-shuffle every banded row.
    big = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.count("*").alias("__bsz"))
        .filter(F.col("__bsz") > max_bucket_size)
        .select("band_idx", "band_hash")
    )
    sized = banded.join(
        F.broadcast(big), ["band_idx", "band_hash"], "left_anti"
    )
    left = sized.select("band_idx", "band_hash", F.col("id").alias("id_a"))
    right = sized.select("band_idx", "band_hash", F.col("id").alias("id_b"))
    cand = (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # Materialize the distinct shingle rows once (round 12, same finding
    # as ngram_jaccard_pairs): the verification consumes ``tok`` from
    # FOUR subtrees (the per-doc size aggregate twice, both intersect
    # join sides), each otherwise re-running scan + explode + distinct
    # above a reused exchange.  repartition("id") makes the distinct's
    # exchange double as the size-aggregate's clustering.  Measured at
    # sf0.1 (production hashes): kernel CPU 2.56 → 1.83, shuffle
    # 24 → 13 MB, identical pairs.
    tok = (
        shingle_rows(df, id_col, text_col, n)
        .repartition("id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    return _verify_jaccard_by_counts(cand, tok, threshold)


# ── near-dup clustering (connected components) ───────────────────────────


def connected_components(
    ids: DataFrame,
    edges: DataFrame,
    max_iter: int = 20,
    on_nonconverged: str = "warn",
) -> DataFrame:
    """(id, component_id) where component_id = min id reachable over the
    undirected ``edges(id_a, id_b)`` graph; singletons label themselves.

    Iterative min-label propagation WITH POINTER JUMPING (round 8): each
    round joins labels across edges, takes the min, then compresses one
    pointer level (``comp ← comp[comp]``, the hash-to-min / path-halving
    step of Kiveris et al. 2014's MapReduce CC family).  The reachable
    frontier roughly DOUBLES per round, so convergence is O(log diameter)
    rounds, not O(diameter): near-dup cliques still finish in 2–3 rounds,
    and the adversarial deep graphs the plain propagation could not
    survive inside ``max_iter`` — paragraph/substring overlap CHAINS,
    where doc A shares a span with B, B with C, … — converge in ~log₂
    rounds (a 300-link chain needs ~10 rounds, not 300).  Each round is
    two shuffle joins + one min-agg, executed as ONE Spark job: the
    convergence check rides the eager checkpoint's materialization as an
    ``observe()`` metric (round 12) instead of a second count job, and a
    converged round returns the checkpointed labels through a narrow
    projection (the pointer jump would be the identity).  Lineage is
    truncated per round with
    ``localCheckpoint`` (an iterative plan that keeps its full lineage
    re-executes every prior round at every action — the classic Spark
    iterative-algorithm trap; on a cluster use a checkpoint dir for
    fault tolerance instead).

    Correctness invariant: a node's label is always the id of SOME node
    known reachable from it — the neighbor-min step extends labels along
    edges, the jump step composes two established reachabilities — so
    the fixed point is exactly min(reachable ids), same as the plain
    propagation (equality pinned in tests).
    """
    sym = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    # materialize the edge list once — it is re-joined every round, and an
    # unmaterialized edge plan (e.g. a full similarity join) would re-execute
    # per iteration.  Repartition on the join key FIRST (round 12): the
    # checkpointed LogicalRDD keeps its outputPartitioning, so every
    # round's ``join(labels, "src")`` finds the edge side already hash-
    # partitioned and only the (smaller) label frame moves — one edge
    # shuffle total instead of one per round once labels outgrow the
    # broadcast threshold at scale.
    sym = sym.repartition("src").localCheckpoint(eager=True)
    # iterate over edge ENDPOINTS only — typically a small fraction of the
    # corpus (most docs are singletons); singletons join back at the end
    labels = sym.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("comp")
    )
    from uuid import uuid4

    from pyspark.sql import Observation

    converged = False
    for _round in range(max_iter):
        nbr = sym.join(
            labels.withColumnRenamed("id", "src"), "src"
        ).select(
            F.col("dst").alias("id"), "comp", F.lit(False).alias("own")
        )
        # fold the convergence check into the SAME aggregation: `old`
        # (this id's previous label, present exactly once via own=true)
        # rides the min-agg shuffle, and the changed-label count is an
        # ``observe()`` metric collected DURING the eager checkpoint's
        # materialization (round 12) — one Spark job per round instead
        # of checkpoint + a second convergence-count job.
        obs = Observation(f"cc_round_{_round}_{uuid4().hex[:8]}")
        merged = (
            labels.withColumn("own", F.lit(True))
            .unionByName(nbr)
            .groupBy("id")
            .agg(
                F.min("comp").alias("comp"),
                F.min(F.when(F.col("own"), F.col("comp"))).alias("old"),
            )
            .observe(
                obs,
                F.sum(
                    (F.col("comp") != F.col("old")).cast("long")
                ).alias("changed"),
            )
            # materialize before the self-join below consumes it twice —
            # otherwise the union+groupBy min-agg subplan is duplicated
            # inside the jump join unless ReuseExchange happens to rescue it
            .localCheckpoint(eager=True)
        )
        # Convergence is checked on MERGED (pre-jump): changed == 0 means
        # min-over-neighbors moved no label, which forces labels constant
        # per component AND equal to the component's min id (the min node
        # m has comp[m] = m since labels are reachable ids ≥ the
        # component min and ≤ own id) — at that point the jump below is
        # the identity, so stopping here is exactly the jumped fixed
        # point.  ``sum`` over zero rows is NULL (empty edge set) — that
        # is the converged case too.
        changed = obs.get["changed"]
        if not changed:
            converged = True
            # the jump would be the identity: return the materialized
            # labels through a narrow projection — no final join, and no
            # extra checkpoint (merged already holds the blocks)
            labels = merged.select("id", "comp")
            break
        # pointer jump: comp ← comp[comp].  Labels are node ids and every
        # labeled node's label is ≤ itself under min-propagation, so the
        # jump only ever lowers comp (toward the component minimum); a
        # comp outside the endpoint set labels itself (coalesce).  Derived
        # LAZILY over the checkpointed merged — its consumers next round
        # re-execute a cheap join of two materialized frames.
        jump = merged.select(
            F.col("id").alias("comp"), F.col("comp").alias("jcomp")
        )
        labels = merged.join(jump, "comp", "left").select(
            "id", F.coalesce("jcomp", "comp").alias("comp")
        )
    if not converged:
        # labels are still a valid UPPER-BOUND partition (every id maps
        # to SOME reachable id), but distinct components may not have
        # fully merged — a silent return would make downstream dedup
        # under-merge without a trace.  ``on_nonconverged`` makes the
        # signal STRUCTURAL for callers whose correctness depends on it
        # (split.leakage_safe_split) instead of a string-matched warning.
        msg = (
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds max_iter); labels may still be "
            "split — raise max_iter"
        )
        if on_nonconverged == "error":
            raise ValueError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
        # materialize the FINAL labels once (the per-round frames stay at
        # one checkpoint each): the non-converged loop exit leaves
        # `labels` as a lazy jump join over the last checkpointed merged,
        # and returning that plan would make every downstream action
        # re-execute the join — and re-enter the returned plan's Exchange
        # count, which the corpus-wide shuffle-budget pin tracks.  (The
        # converged path returns a narrow projection over the already-
        # checkpointed merged — nothing to materialize.)
        labels = labels.localCheckpoint(eager=True)
    return ids.select("id").join(labels, "id", "left").select(
        "id", F.coalesce("comp", F.col("id")).alias("component_id")
    )


# ── SimHash ──────────────────────────────────────────────────────────────


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """SimHash per document: explode tokens, columnar sign-sums per bit,
    reassemble.  One shuffle of O(docs × n_bits) ints.

    ``portable=False`` (production): 64 bits of xxhash64.
    ``portable=True``: 60 bits of the engine-portable md5 hash
    (functions/porthash.py) so a DuckDB oracle recomputes the identical
    fingerprint — 60 vs 64 bits costs ~6% hamming resolution, irrelevant
    at the thresholds near-dup detection uses.
    """
    from ..functions.porthash import md5_60_spark

    n_bits = 60 if portable else 64
    h_expr = md5_60_spark("t", seed) if portable else f"xxhash64(t, {seed})"
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens_col(text_col)).alias("t")
    ).select("id", F.expr(h_expr).alias("h"))
    # each per-bit expression is ONE parsed SQL string (same analyzed
    # plan as the F.sum(F.when(...)) spelling) — the Column-combinator
    # form costs ~6 py4j round-trips per bit × 64 bits twice, measured
    # ~0.9 s of driver time PER CONSTRUCTION (OPTIMIZATION_r11.md §8)
    bit_sums = tok.groupBy("id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN ((h >> {i}) & 1) = 1 THEN 1 ELSE -1 END)"
                f" AS b{i}"
            )
            for i in range(n_bits)
        ]
    )
    bits = [
        f"CASE WHEN b{i} > 0 THEN CAST(1 AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END AS v{i}"
        for i in range(n_bits)
    ]
    assembled = bit_sums.selectExpr("id", *bits).select(
        "id",
        F.expr(
            " + ".join(f"shiftleft(v{i}, {i})" for i in range(n_bits))
        ).alias("simhash"),
    )
    return assembled


def hamming64_expr(a: str, b: str) -> Column:
    return F.expr(f"bit_count({a} ^ {b})")


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    seed: int = 42,
    blocks: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming, found by the
    pigeonhole block trick: split the 64-bit hash into ``blocks`` chunks —
    pairs differing in ≤ max_hamming bits must agree exactly on ≥1 block
    whenever max_hamming < blocks (≤ max_hamming differences cannot touch
    all blocks).  Candidates come from equality joins on block values (hash
    shuffle, no cross join); exact hamming verifies.

    ``blocks`` defaults to ``max_hamming + 1`` — the smallest block count
    that satisfies the completeness condition (fewest candidate buckets ⇒
    cheapest join).  An explicit ``blocks <= max_hamming`` is rejected: it
    would silently drop pairs whose differences spread one per block.
    """
    if blocks is None:
        blocks = max_hamming + 1
    if not 1 <= blocks <= 64:
        raise ValueError(f"blocks must be in [1, 64], got {blocks}")
    if max_hamming >= blocks:
        raise ValueError(
            f"pigeonhole completeness requires max_hamming < blocks "
            f"(got max_hamming={max_hamming}, blocks={blocks})"
        )
    width = 64 // blocks
    sh = simhash(df, id_col, text_col, seed, portable)
    blocked = sh.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.expr(f"(simhash >> {i * width}) & {(1 << width) - 1}")
                    for i in range(blocks)
                ]
            )
        ).alias("block_idx", "block_val"),
    )
    left = blocked.select(
        "block_idx", "block_val", F.col("id").alias("id_a"), F.col("simhash").alias("sh_a")
    )
    right = blocked.select(
        "block_idx", "block_val", F.col("id").alias("id_b"), F.col("simhash").alias("sh_b")
    )
    return (
        left.join(right, ["block_idx", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming64_expr("sh_a", "sh_b").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
