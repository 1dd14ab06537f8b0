"""Deduplication cascade for document corpora.

Four tiers, cheapest first — the shape a 100 TB dedup actually runs as:

1. exact content hash (one hash aggregate);
2. normalized fingerprint (formatting-insensitive exact, same cost);
3. MinHash + LSH banding (near-dup candidates in O(n·k), verified by exact
   Jaccard on the candidates only);
4. SimHash + banded Hamming (near-dup on short texts / titles).

Everything is built from built-in expressions (xxhash64, higher-order array
functions, self-join on band keys): no Python row path. Shingles stay as
per-doc long arrays, so the MinHash signature stage is a pure projection
(zero shuffle); the only shuffles in the near-dup path are the band-key
self-join and the keyed candidate-verification joins — uniform keys, all
AQE-skew-splittable. Seeded xxhash64 everywhere keeps results deterministic
across runs and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import track
from ..functions.text import normalized_fingerprint, word_shingles, ws_tokens
from ..partitioning import ensure_parallelism


# duplication-factor probe memo for collapse_exact_duplicates: keyed by
# (session id, plan semanticHash, text col) — see the docstring there.
_DUP_FACTOR_CACHE: dict = {}


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Tier 1: keep the lowest-id representative per exact content hash.
    Returns (content hash, kept id, duplicate count)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_md5"), F.col(id_col))
        .groupBy("content_md5")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def collapse_exact_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    adaptive: bool = True,
    min_dup_factor: float = 1.10,
):
    """Distinct-first collapse for CLUSTERING consumers: ``(reps, star)``
    where ``reps`` keeps one min-id representative per exact text and
    ``star`` holds one (copy → representative) edge per collapsed copy —
    or ``star is None`` when the adaptive probe skipped the collapse
    (``reps`` is then the full doc set and there is nothing to re-attach;
    consumers must branch rather than union an empty frame, because even
    an empty-LocalRelation union measurably re-plans every iteration of
    the downstream connected-components loop: ~0.2 s at sf0.1).

    Running a near-dup edge builder over ``reps`` and unioning ``star``
    is connectivity-equivalent to running it over ALL docs, for any
    similarity measure that depends only on text content: identical texts
    form jaccard-1 cliques (always ≥ any threshold), and a clique and a
    star over the same members connect the same component; the min node
    id of a component is always an exact-group minimum, i.e. a rep, so
    min-label components are bit-identical. What changes is COST: pair
    discovery runs on |distinct texts| docs instead of |docs|, so a
    corpus with duplication factor k cuts the candidate/verify tier ~k²
    (the 100x replica: 500k docs → 5k reps; 27.31M verified pairs → ~3k
    rep pairs + 495k star edges, and connected_components' edge set drops
    under its small-graph union-find threshold — measured 57.6s → ~8s).
    This is exactly the dup-dense shape the 100x standing gate exists to
    catch; the PAIR-emitting queries (llm_dedup_minhash,
    llm_ngram_jaccard...) keep the full form because their CONTRACT is
    every pair.

    r7 (VERDICT task 2): ADAPTIVE — on a dup-LIGHT corpus the collapse is
    pure overhead (the md5 window-min shuffles every text byte to save
    nothing; interleaved min-of-5 A/B at sf0.1 on llm_dedup_clusters:
    1.528 s with vs 1.336 s without), so a one-aggregate probe
    (count vs approx_count_distinct(text), rsd 2%) skips it when the
    duplication factor is ≈ 1. Skipping returns the FULL doc set with an
    empty star — connectivity-identical by the clique≡star argument above
    (the trivial case: every clique stays a clique). The dup-dense 100x
    replica (factor ~100) takes the collapse path, so both branches stay
    exercised by the standing gates.

    The probe result is CACHED per (session, plan semanticHash): the probe
    action costs ~0.33 s of fixed stage latency at sf0.1 (measured — more
    than the collapse it would skip), but a real pipeline probes each
    corpus once and runs many collapse consumers over it, so the amortized
    cost is one aggregate per corpus per process. The cache only ever
    selects between two EXACT-equivalent branches, so a stale entry (same
    plan, path contents changed mid-process — none of our harnesses do
    this) can cost time, never correctness."""
    if adaptive:
        key = (id(df.sparkSession), df.semanticHash(), text_col)
        factor = _DUP_FACTOR_CACHE.get(key)
        if factor is None:
            probe = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.approx_count_distinct(text_col, rsd=0.02).alias("nd"),
            ).first()
            factor = probe["n"] / max(probe["nd"], 1)
            if len(_DUP_FACTOR_CACHE) >= 64:
                _DUP_FACTOR_CACHE.clear()
            _DUP_FACTOR_CACHE[key] = factor
        if factor <= min_dup_factor:
            return df.select(id_col, text_col), None
    keyed = df.select(
        F.col(id_col), F.col(text_col), F.md5(F.col(text_col)).alias("ck")
    )
    # ONE exchange serves both outputs: a window-min over the content
    # hash (uniform keys — md5) tags every row with its group minimum,
    # and reps/star are two filters over the SAME shuffled frame (the
    # exchange is reused). The agg+join spelling costs a second shuffle —
    # measured +0.2s at sf0.1 for nothing (interleaved A/B, r6).
    tagged = keyed.withColumn(
        "rep", F.min(id_col).over(Window.partitionBy("ck"))
    )
    reps = tagged.filter(F.col(id_col) == F.col("rep")).select(id_col, text_col)
    star = tagged.filter(F.col(id_col) != F.col("rep")).select(
        F.col("rep").alias("doc_a"), F.col(id_col).alias("doc_b")
    )
    return reps, star


def dedup_normalized(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Tier 2: like :func:`dedup_exact` but on the normalized fingerprint
    (case / punctuation / whitespace insensitive)."""
    return (
        df.select(normalized_fingerprint(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _shingle_arrays(
    df: DataFrame, text_col: str, id_col: str, shingle_words: int, hashed: bool = False
) -> DataFrame:
    """(doc, sh) with ``sh`` the doc's DISTINCT shingle set as an array —
    computed entirely inside the row (no explode, no shuffle). Docs shorter
    than the shingle width contribute their whole text as one shingle so
    they can still match.

    Tokenization and shingling are materialized as separate projections:
    inlining ``split()`` inside the ``transform`` lambda would re-tokenize
    the document once per shingle index (O(tokens²) regex work — measured
    10× slower). The input is widened first so the CPU-heavy shingling runs
    at full parallelism.

    ``hashed=True`` maps each shingle to ``xxhash64`` inside the row — the
    MinHash/LSH path never needs the string, and long keys make every
    downstream dedup/shuffle/join cheaper (collision odds at 64 bits are
    negligible at corpus scale)."""
    tokenized = ensure_parallelism(df.select(F.col(id_col).alias("doc"), F.col(text_col))).select(
        "doc", ws_tokens(F.col(text_col)).alias("toks")
    )
    if hashed:
        # Hash each token once, then combine w token-hashes per shingle with
        # position-dependent rotations — O(tokens) hash work per doc instead
        # of O(tokens·w) string bytes, and equal word sequences still map to
        # equal longs. Built as ONE expr string: the Column-API form makes
        # ~60 py4j round trips per call (each operator is a JVM call), the
        # server-side parse makes 1 — measured 2x faster plan build (r5),
        # byte-identical output.
        def rot(e: str, r: int) -> str:
            r = r % 64
            return f"(shiftleft({e}, {r}) | shiftrightunsigned({e}, {(64 - r) % 64}))"

        w = shingle_words
        terms = ["element_at(th, i)"] + [
            rot(f"element_at(th, i + {j})", 13 * j) for j in range(1, w)
        ]
        sh_expr = (
            f"array_distinct(CASE WHEN size(toks) >= {w} THEN "
            f"transform(sequence(1, size(toks) - {w - 1}), i -> {' ^ '.join(terms)}) "
            f"ELSE array(xxhash64(concat_ws(' ', toks))) END)"
        )
        th = tokenized.select(
            "doc", "toks", F.expr("transform(toks, t -> xxhash64(t))").alias("th")
        )
        return th.select("doc", F.expr(sh_expr).alias("sh"))
    with_shingles = tokenized.select(
        "doc", word_shingles(F.col("toks"), shingle_words).alias("sh"), "toks"
    )
    return with_shingles.select(
        "doc",
        F.array_distinct(
            F.when(F.size("sh") > 0, F.col("sh")).otherwise(
                F.array(F.concat_ws(" ", F.col("toks")))
            )
        ).alias("sh"),
    )


def _shingle_table(
    df: DataFrame, text_col: str, id_col: str, shingle_words: int, hashed: bool = False
) -> DataFrame:
    """(id, shingle) pairs, distinct per doc — the exploded (inverted-index)
    form of :func:`_shingle_arrays`, for the exact all-pairs Jaccard path.

    ``explode_outer`` on purpose, NOT ``explode``: the arrays are never
    empty (short docs are padded), but a plain explode makes Catalyst's
    InferFiltersFromGenerate push ``size(sh) > 0`` down into the scan,
    inlining the whole tokenize+shingle expression tree into a per-row
    filter — measured 6× slower. The outer variant skips that rule and
    yields identical rows here."""
    return _shingle_arrays(df, text_col, id_col, shingle_words, hashed).select(
        "doc", F.explode_outer("sh").alias("shingle")
    )


def minhash_signatures(shingle_arrays: DataFrame, num_perm: int = 64) -> DataFrame:
    """Per-doc MinHash signature from the (doc, sh array) form — a PURE
    PROJECTION, no shuffle: permutation *i* combines two seeded xxhash64
    values as ``h1 XOR rotl(h2, i)`` (2 hashes per shingle instead of
    ``num_perm``, pure bitwise ops — no wrapping arithmetic, which ANSI mode
    rejects), and the signature element is ``array_min`` over the doc's
    shingles. Deterministic across runs and partitionings; at corpus scale
    the signature stage costs zero network."""
    # selectExpr strings, not Column-API transforms: each F.* call is a
    # py4j round trip at plan-build time and this constructor sits on the
    # bench path — the fused string form builds the same plan with ~1/10th
    # the driver latency (r10; the _shingle_arrays lesson applied here).
    pre = shingle_arrays.selectExpr(
        "doc",
        "transform(sh, s -> xxhash64(s)) AS h1s",
        "transform(sh, s -> xxhash64(1, s)) AS h2s",
    )
    # Permutation loop lives in DATA (sequence + transform), not in
    # unrolled codegen: 64 separate array_min(zip_with(...)) expressions
    # generate a huge class whose JIT alone costs seconds and whose
    # steady-state runs 5× slower than this single nested-lambda form
    # (measured both, same output).
    sig = (
        f"transform(sequence(0, {num_perm - 1}), i -> "
        "array_min(zip_with(h1s, h2s, (a, b) -> "
        "a ^ (shiftleft(b, i) | shiftrightunsigned(b, (64 - i) % 64)))))"
    )
    return pre.select("doc", F.expr(sig).alias("sig"))


def _banded_signatures(signatures: DataFrame, bands: int, num_perm: int) -> DataFrame:
    """(doc, band, band_hash) rows: each signature cut into ``bands`` band
    hashes. posexplode_outer: the band array is constant-width and never
    empty; see _shingle_table on why the non-outer variant is a perf trap
    (it would inline the 64-permutation signature into an inferred
    filter)."""
    rows_per_band = max(num_perm // bands, 1)
    # ONE expr string for the whole band array: the Column-API spelling is
    # bands x rows_per_band element_at calls = ~100 py4j round trips per
    # plan build, the heaviest single build cost in the minhash pipeline
    # (measured 0.11 s of pure driver latency per construction, r10).
    band_exprs = ", ".join(
        "xxhash64("
        + ", ".join(
            f"element_at(sig, {b * rows_per_band + r + 1})" for r in range(rows_per_band)
        )
        + ")"
        for b in range(bands)
    )
    return signatures.select(
        "doc",
        F.posexplode_outer(F.expr(f"array({band_exprs})")).alias("band", "band_hash"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 16,
    num_perm: int = 64,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Band the signatures and self-join on (band index, band hash): docs
    agreeing on any band become a candidate pair. The join key space is
    (bands × hash) — uniformly distributed for DISTINCT texts; exact
    duplicates all land in the same buckets, which is where the optional
    ``bucket_cap`` comes in (same dial as ``knn_lsh``): keep only each
    bucket's ``bucket_cap`` lowest-id members, hard-bounding a c-copy
    bucket's pair fan-out from c² to cap². The trade is explicit and
    blunt: members beyond the cap are dropped from the index and emit NO
    pairs (pinned in tests) — the dial fits pipelines that only need a
    bounded witness set per dup cluster (survivorship keeps one
    representative anyway), NOT exhaustive pair extraction. OFF by
    default; cap ≥ every bucket's size is exactly the uncapped result
    (pinned in tests)."""
    # Materialize the banded signatures once: a self-join of an unpersisted
    # plan computes the 64-permutation projection for BOTH sides (alias
    # exprIds defeat ReuseExchange). At corpus scale this is the signature
    # checkpoint every MinHash pipeline writes anyway.
    banded = track(_banded_signatures(signatures, bands, num_perm).persist())
    if bucket_cap is not None:
        wcap = Window.partitionBy("band", "band_hash").orderBy("doc")
        banded = (
            banded.withColumn("_rn", F.row_number().over(wcap))
            .filter(F.col("_rn") <= bucket_cap)
            .drop("_rn")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            F.expr("a.band = b.band AND a.band_hash = b.band_hash AND a.doc < b.doc"),
        )
        .selectExpr("a.doc AS doc_a", "b.doc AS doc_b")
        .distinct()
    )


def exact_jaccard_pairs(
    shingle_arrays: DataFrame, min_jaccard: float = 0.0, candidates: DataFrame | None = None
) -> DataFrame:
    """Exact shingle-set Jaccard for pairs sharing ≥1 shingle (inverted-index
    self-join). Takes the (doc, sh array) form of :func:`_shingle_arrays`:
    the set size is computed IN-ROW (``size(sh)``) and rides the inverted
    index, so the union term of Jaccard needs no separate sizes aggregate
    and no post-join size lookups — the whole op is one self-join + one
    pair aggregate (2 shuffles, was 4). When ``candidates`` (doc_a, doc_b)
    is given — e.g. LSH output — only those pairs are scored, which is
    what bounds the cost at corpus scale."""
    sh = track(
        shingle_arrays.selectExpr(
            "doc", "size(sh) AS n", "explode_outer(sh) AS shingle"
        ).persist()  # read twice (both join sides); explode_outer per _shingle_table note
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            # n is functionally dependent on doc: same groups, sizes for free.
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    if candidates is not None:
        inter = inter.join(candidates, ["doc_a", "doc_b"], "left_semi")
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "n_inter", "n_a", "n_b", "jaccard")
    )


def jaccard_for_candidates(
    shingle_arrays: DataFrame, candidates: DataFrame, min_jaccard: float = 0.0
) -> DataFrame:
    """Exact Jaccard for a known (doc_a, doc_b) candidate set by joining the
    per-doc shingle ARRAYS to each side and intersecting inside the row
    (``array_intersect`` hashes the smaller side — O(|a|+|b|) per pair).

    This is the scale-correct verification shape: cost is keyed joins
    proportional to |candidates|, where the inverted-index alternative
    (count pairs sharing a shingle, then filter) explodes quadratically on
    any shingle shared by many documents."""
    # selectExpr/where strings for build latency (same plan, fewer py4j
    # round trips — r10, see minhash_signatures).
    sa = shingle_arrays.selectExpr("doc AS doc_a", "sh AS sh_a")
    sb = shingle_arrays.selectExpr("doc AS doc_b", "sh AS sh_b")
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "size(array_intersect(sh_a, sh_b)) AS n_inter",
            "size(sh_a) AS n_a",
            "size(sh_b) AS n_b",
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            "n_inter",
            "n_a",
            "n_b",
            "CAST(n_inter AS DOUBLE) / CAST(n_a + n_b - n_inter AS DOUBLE) AS jaccard",
        )
        .where(f"jaccard >= {min_jaccard}")
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 5,
    num_perm: int = 64,
    bands: int = 16,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Tier 3 end-to-end: shingle → MinHash → LSH bands → exact-Jaccard
    verification of the candidates only. Hashed shingles stay as per-doc
    long arrays for the whole pipeline: the signature stage is a pure
    projection (zero shuffle) and verification joins arrays to the LSH
    candidate pairs — the only shuffles are the band-key self-join and the
    two keyed candidate joins."""
    arrays = track(_shingle_arrays(df, text_col, id_col, shingle_words, hashed=True).persist())
    sigs = minhash_signatures(arrays, num_perm)
    cands = lsh_candidate_pairs(sigs, bands, num_perm)
    return jaccard_for_candidates(arrays, cands, min_jaccard)


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    small_graph_edges: int = 2_000_000,
) -> DataFrame:
    """Cluster near-dup pairs into components: (node, cluster_id) where
    ``cluster_id`` is the minimum node id in the component — the canonical
    survivor a dedup pipeline keeps.

    Min-label propagation: each round every node takes the minimum label
    among itself and its neighbors; converged when no label changes. Rounds
    = graph diameter, and dedup graphs are unions of tiny cliques (diameter
    ≤ a few hops even at corpus scale), so this beats the O(log n)
    star-contraction algorithms in practice: each round is ONE shuffle
    (join + min-aggregate on node id), and labels are localCheckpoint'd per
    round so the plan doesn't grow with iterations.
    """
    # Both orientations in ONE pass over the edge pipeline: a unionAll of
    # two selects would compute the (possibly expensive) edge lineage twice.
    und = edges.select(
        F.explode_outer(
            F.array(
                F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    und = track(und.persist())
    # Adaptive small-graph path (the AQE philosophy applied to the graph
    # op): when the whole edge set fits comfortably (bounded by the
    # threshold — dedup edge sets at sf<=10 are a few hundred rows; even 1M
    # pairs is ~32 MB) run union-find locally and skip the per-round join
    # jobs entirely. Identical output (min-id component labels) by
    # construction; the distributed label propagation below remains the
    # path for corpus-scale edge sets.
    #
    # ONE action decides the path AND fetches the data (r5): a
    # limit(threshold+1) fetch materializes the persisted edges and
    # returns them if they fit — the previous count()-then-collect() pair
    # paid a second job for the same rows. An over-threshold graph wastes
    # only the bounded ~32 MB probe before taking the distributed path.
    # Arrow fetch (toPandas), not collect() (r11, same ADVICE as the
    # graph_local arc probe): 2M pyspark Rows cost ~100+ B each of Python
    # object overhead — hundreds of MB transient near the bound — while
    # the Arrow path is two contiguous int64 buffers matching the stated
    # ~32 MB budget.
    probe = und.limit(small_graph_edges + 1).toPandas()
    if len(probe) <= small_graph_edges:  # both orientations: ≤1M input pairs
        # node ids must arrive as integers: Arrow hands a nullable id column
        # over as float64 with NaN, and to_numpy would wrap NaN and truncate
        # fractions silently, so any non-integer dtype raises here
        for c in ("u", "v"):
            if probe[c].dtype.kind != "i":
                raise TypeError(
                    f"connected_components: node ids must be non-null integers, "
                    f"got dtype {probe[c].dtype}"
                )
        us = probe["u"].to_numpy(dtype="int64").tolist()
        vs = probe["v"].to_numpy(dtype="int64").tolist()
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for ua, vb in zip(us, vs):
            ra, rb = find(ua), find(vb)
            if ra != rb:
                # union by min: smaller id becomes the root
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        nodes = set(us)
        nodes.update(vs)
        out = [(x, find(x)) for x in sorted(nodes)]
        und.unpersist()
        spark = edges.sparkSession
        schema = und.select(
            F.col("u").alias("node"), F.col("v").alias("cluster_id")
        ).schema
        # Arrow path: a pandas frame serializes as one Arrow batch instead
        # of row-at-a-time pickles (measured ~0.4 s off the 5k-label
        # materialization at sf0.1; the same ratio holds at the 1M cap).
        import pandas as pd

        if out:
            pdf = pd.DataFrame(out, columns=["node", "cluster_id"])
            return spark.createDataFrame(pdf, schema)
        return spark.createDataFrame([], schema)
    # Distributed path: size the iterative state to the GRAPH, not the
    # session shuffle width — per-round cost on a small graph is pure task
    # scheduling, and AQE coalesces the reduce sides to match. The exact
    # count costs one job against the already-persisted edges.
    n_und = und.count()
    target_parts = int(n_und // 2_000_000) + 1
    if target_parts < und.rdd.getNumPartitions():
        und = und.coalesce(target_parts)
    # Seed with min(node, min neighbor): same shuffle the node-distinct
    # would cost, but it pre-applies round 1 of the propagation.
    labels = (
        und.groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("mv"))
        .select("node", F.least("node", "mv").alias("label"))
    ).localCheckpoint()
    for _ in range(max_iter):
        neighbor_min = (
            und.join(labels, und["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        # The changed flag rides the same materialization (labels only ever
        # decrease, so changed ⇔ nmin < old label) — no compare-join with
        # the previous round needed.
        flagged = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["u"], "left")
            .select(
                labels["node"],
                F.least(labels["label"], F.coalesce("nmin", labels["label"])).alias("label"),
                (F.coalesce("nmin", labels["label"]) < labels["label"]).alias("changed"),
            )
        ).localCheckpoint()
        changed = flagged.filter("changed").limit(1).count()
        labels = flagged.drop("changed")
        if changed == 0:
            break
    und.unpersist()
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Tier 4 signature: SimHash — bit *j* is the sign of the sum of
    (±1) votes from each token's hash bit *j* (votes keep token
    multiplicity). One explode + one aggregate of ``bits`` conditional
    sums, all inside whole-stage codegen.

    ``hasher``: ``xxhash64`` (default, fastest) or ``md5`` — the first
    ``bits``/4 hex nibbles of md5 packed into a long. md5 exists in DuckDB
    too, which is what makes the md5 variant ORACLE-comparable
    (llm_dedup_simhash_md5); use bits<=60 with it so the packed value
    stays positive in a signed int64 on both engines.

    Deliberately NOT an in-row higher-order fold: lambdas in aggregate/
    zip_with evaluate interpreted per element, so a bits×tokens fold runs
    ~75× slower than these codegen'd sums (measured both loop orders); the
    per-doc shuffle is the cheaper currency here — the aggregate is partial
    (map-side combine), so what shuffles is ``bits`` ints per doc, not
    tokens."""
    tokens = ensure_parallelism(df.select(F.col(id_col).alias("doc"), F.col(text_col))).select(
        "doc", F.explode_outer(ws_tokens(F.col(text_col))).alias("tok")
    )
    if hasher == "md5":
        assert bits <= 60, "md5 packing must stay positive in signed int64"
        n_nibbles = (bits + 3) // 4
        # Little-endian nibble packing (hex digit k at bits 4k), spelled as
        # one conv of the REVERSED hex prefix — bit-identical to the
        # 15-term shiftleft sum the oracle uses (digit j of reverse(s)
        # lands at 16^(j-1)), pinned by tests/test_hash60.py.
        packed = f"conv(reverse(substr(md5(tok), 1, {n_nibbles})), 16, 10)"
        tokens = tokens.withColumn("th", F.expr(f"CAST({packed} AS BIGINT)"))
    else:
        tokens = tokens.withColumn("th", F.xxhash64("tok"))
    # Bit masks as JVM-side shifts: 1<<63 overflows a Python->JVM literal.
    def mask(j: int):
        return F.shiftleft(F.lit(1).cast("long"), j)

    votes = [
        F.sum(F.when(F.col("th").bitwiseAND(mask(j)) != 0, 1).otherwise(-1)).alias(f"b{j}")
        for j in range(bits)
    ]
    agg = tokens.groupBy("doc").agg(*votes)
    out = F.lit(0).cast("long")
    for j in range(bits):
        out = out + F.when(F.col(f"b{j}") > 0, mask(j)).otherwise(F.lit(0).cast("long"))
    return agg.select("doc", out.alias("simhash"))


def simhash_near_dups(df: DataFrame, max_hamming: int = 3, **kw) -> DataFrame:
    """Banded Hamming join on SimHash: split the signature bits into 4
    bands; near-identical signatures (<= max_hamming differing bits, with
    max_hamming < 4) must agree on >= 1 band BY PIGEONHOLE — this banding
    has deterministic recall 1, unlike probabilistic MinHash bands — so the
    self-join runs on band keys, then verifies with ``bit_count(xor)``."""
    sigs = simhash(df, **kw)
    band_width = kw.get("bits", 64) // 4
    band_mask = (1 << band_width) - 1
    bands = sigs.select(
        "doc",
        "simhash",
        F.posexplode_outer(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", band_width * b).bitwiseAND(F.lit(band_mask))
                    for b in range(4)
                ]
            )
        ).alias("band", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def prefix_filtered_pairs(
    shingle_arrays: DataFrame, min_jaccard: float = 0.5, persist_index: bool = True
) -> DataFrame:
    """EXACT set-similarity self-join with prefix filtering (the
    PPJoin/AllPairs family — Bayardo et al. WWW'07, Xiao et al. WWW'08):
    same answer as the full inverted-index join of
    :func:`exact_jaccard_pairs`, a fraction of the candidate pairs.

    Two sound prunes before any pair is formed:
    * **Prefix filter**: order every doc's shingle set by ascending global
      frequency (rarest first, ties by value — a total order, no global
      rank assignment needed). Two sets with Jaccard >= t MUST share a
      token among each one's first ``n - ceil(t*n) + 1`` tokens, so only
      PREFIX tokens enter the inverted index — and prefixes are built from
      the RAREST tokens, exactly the ones with short posting lists (the
      quadratic blowup of common-token posting lists never happens).
    * **Size filter**: |a| >= t*|b| and |b| >= t*|a| as a join predicate —
      size-incompatible pairs are dropped inside the join, before the
      distinct.

    Survivors are verified exactly by :func:`jaccard_for_candidates`
    (in-row ``array_intersect``, cost ∝ |candidates|).
    """
    # Persist the per-doc arrays: they feed the frequency aggregate, the
    # ordered-prefix rebuild AND both sides of the final verify join —
    # unpersisted, the tokenize+shingle+hash projection recomputes ~4×
    # (measured 2.7× wall on llm_ngram_jaccard at sf0.1). Freed by the
    # harness clearCache, like every persist whose lifetime spans the
    # returned plan.
    shingle_arrays = track(shingle_arrays.persist())
    sh = shingle_arrays.selectExpr(
        "doc", "size(sh) AS n", "explode_outer(sh) AS shingle"
    )
    # Frequency-1 pruning (r5, VERDICT task 2): a token whose GLOBAL
    # frequency is 1 exists in exactly one document, so it can never index
    # a pair — and any token shared by two prefixes has freq >= 2 by
    # definition, so restricting the inverted index to freq >= 2 tokens
    # preserves every candidate the prefix lemma guarantees. Under the
    # (freq asc, shingle asc) total order all freq-1 tokens sort BEFORE
    # every freq>=2 token within a doc, so a surviving token's true rank is
    # n1(d) + rank-among-survivors = (n - n2) + rn2, and the prefix test
    # rank <= n - ceil(t*n) + 1 becomes rn2 <= n2 - ceil(t*n) + 1 — the
    # full-corpus rank never needs materializing. Net vs the r4 plan: the
    # freq attach joins a (much smaller) hub relation, the doc-keyed window
    # ranks only repeated-token instances (~10x fewer rows on natural-text
    # shingles, where most 5-grams are globally unique), and the index
    # itself shrinks the same 10x before the self-join. AQE turns the hub
    # attach into a broadcast join whenever the repeated-vocabulary side is
    # small; at web scale it degrades gracefully to the shuffled join with
    # a window input still strictly smaller than the full exploded relation.
    # SQL-window expr strings instead of Window objects: same plan, ~half
    # the py4j round trips per build (the r5 _shingle_arrays lesson).
    hubs = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("freq")).filter("freq >= 2")
    prefixes = (
        sh.join(hubs, "shingle")
        .selectExpr(
            "doc",
            "n",
            "shingle",
            "row_number() over (partition by doc order by freq, shingle) AS rn2",
            "count(1) over (partition by doc) AS n2",
        )
        .where(f"rn2 <= n2 - ceil({min_jaccard} * n) + 1")
        .select("doc", "n", "shingle")
    )
    if persist_index:
        prefixes = track(prefixes.persist())
    # The index persist is load-bearing at scale (r5 plan read): WITHOUT it
    # the executed plan duplicates the whole prefix subtree — freq
    # aggregate, hub join and window sort run TWICE (alias exprIds defeat
    # ReuseExchange, and AQE's broadcast of the a-side is not a reusable
    # exchange for the b-side). Locally the duplicate stages hide behind
    # parallel scheduling (A/B within noise at sf0.1), but at corpus scale
    # that is 2x the two big shuffles for a ~10x-smaller-than-input index.
    a, b = prefixes.alias("a"), prefixes.alias("b")
    t = min_jaccard
    cand = (
        a.join(
            b,
            F.expr(
                "a.shingle = b.shingle AND a.doc < b.doc "
                f"AND b.n >= ceil({t} * a.n) AND a.n >= ceil({t} * b.n)"
            ),
        )
        .selectExpr("a.doc AS doc_a", "b.doc AS doc_b")
        .distinct()
    )
    return jaccard_for_candidates(shingle_arrays, cand, min_jaccard)


def containment_filtered_pairs(
    shingle_arrays: DataFrame, min_containment: float = 0.5
) -> DataFrame:
    """EXACT one-sided containment self-join |A∩B|/|A| >= t with the
    asymmetric prefix filter: if the contained side A shares >= ceil(t·|A|)
    tokens with B, A must share one among its FIRST ``|A| - ceil(t·|A|) + 1``
    tokens under any total order both sides agree on — ordered rarest-first
    (corpus frequency asc, value tiebreak), so only A's rare tokens enter
    the probe side. B indexes all its globally-REPEATED tokens (containment
    bounds nothing on B, but a frequency-1 token can never be probed by a
    different doc), and every posting list is only met by rare-prefix
    probes, so the common-token quadratic blowup of the naive
    inverted-index join cannot happen on the pair-forming side. The size prune |B| >= ceil(t·|A|)
    (|A∩B| <= |B|) drops size-incompatible pairs inside the join.
    Survivors are verified exactly in-row (``array_intersect``), cost
    ∝ |candidates|. Ordered pairs: (a contained-in b) ≠ (b contained-in a).
    """
    sh = shingle_arrays.select(
        "doc", F.size("sh").alias("n"), F.explode_outer("sh").alias("shingle")
    )
    # Frequency-1 pruning on BOTH sides (r5, same lemma as
    # prefix_filtered_pairs): a token with global frequency 1 exists in one
    # doc only, so it can neither probe another doc's postings nor be
    # probed by one — every pair-forming token has freq >= 2. Ranks are
    # reconstructed from rank-among-survivors because freq-1 tokens all
    # sort first under (freq asc, value asc).
    hubs = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("freq")).filter("freq >= 2")
    indexed = track(sh.join(hubs, "shingle").persist())
    # A-side probe: rarest (n - ceil(t*n) + 1) tokens per doc — rank
    # rn2 among freq>=2 survivors satisfies rank = (n - n2) + rn2.
    from pyspark.sql import Window

    w = Window.partitionBy("doc").orderBy("freq", "shingle")
    wn = Window.partitionBy("doc")
    probes = (
        indexed.select(
            "doc",
            "n",
            "shingle",
            F.row_number().over(w).alias("rn2"),
            F.count(F.lit(1)).over(wn).alias("n2"),
        )
        .filter(
            F.col("rn2")
            <= F.col("n2") - F.ceil(F.lit(min_containment) * F.col("n")) + 1
        )
        .select(F.col("doc").alias("doc_a"), F.col("n").alias("n_a"), "shingle")
    )
    full = indexed.select(
        F.col("doc").alias("doc_b"), F.col("n").alias("n_b"), "shingle"
    )
    cand = (
        probes.join(
            full,
            (probes["shingle"] == full["shingle"])
            & (probes["doc_a"] != full["doc_b"])
            & (full["n_b"] >= F.ceil(F.lit(min_containment) * probes["n_a"])),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = shingle_arrays.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = shingle_arrays.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
            F.size("sh_a").alias("n_a"),
        )
        .filter(F.col("n_inter") >= F.ceil(F.lit(min_containment) * F.col("n_a")))
        .withColumn(
            "containment", F.col("n_inter").cast("double") / F.col("n_a").cast("double")
        )
        .select("doc_a", "doc_b", "n_inter", "containment")
    )


def _minhash_base(path: str, meta: dict, sub: str) -> str:
    """Base table location. After a compaction the base lives in a
    versioned subdir recorded in meta ("base_dir") — meta.json is the
    atomic commit point, so readers resolve through it and a crashed
    compaction can never leave them pointing at half-deleted data."""
    import os as _os

    b = meta.get("base_dir") or ""
    return _os.path.join(path, b, sub) if b else _os.path.join(path, sub)


def save_minhash_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 5,
    bands: int = 16,
    num_perm: int = 64,
) -> None:
    """Persist a corpus's MinHash dedup index for build-once/probe-many
    incremental ingest (the text-tier sibling of llm/ann_index.py):

    * ``{path}/bands/`` — the banded signature table as parquet
      PARTITIONED BY ``band``: (band, band_hash, doc). The candidate tier
      of every later probe is a join against this, never a rescan of the
      corpus text.
    * ``{path}/shingles/`` — the per-doc hashed shingle ARRAYS, so the
      exact-Jaccard verify tier never re-tokenizes the stored corpus
      either (at 100 TB re-shingling the snapshot on every daily batch is
      the dominant avoidable cost; the arrays are ~8 bytes/shingle).
    * ``{path}/meta.json`` — shingle width / bands / permutations, so a
      probe always hashes the NEW batch with the stored parameters
      (mismatched banding silently finds nothing).

    Deterministic end-to-end: signatures are seeded xxhash64 folds, so a
    probe against the stored index equals the in-memory cross-band join
    over the same halves — pinned in tests/test_llm_ops.py."""
    import json as _json
    import os as _os

    arrays = track(
        _shingle_arrays(docs, text_col, id_col, shingle_words, hashed=True).persist()
    )
    sig = minhash_signatures(arrays, num_perm)
    _banded_signatures(sig, bands, num_perm).write.mode("overwrite").partitionBy(
        "band"
    ).parquet(_os.path.join(path, "bands"))
    arrays.write.mode("overwrite").parquet(_os.path.join(path, "shingles"))
    arrays.unpersist()
    from .index_maintenance import atomic_write_json

    atomic_write_json(
        _os.path.join(path, "meta.json"),
        {
            "kind": "minhash",
            "shingle_words": shingle_words,
            "bands": bands,
            "num_perm": num_perm,
            "segments": [],
        },
    )


def append_minhash_segment(
    new_docs: DataFrame,
    path: str,
    segment: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """GROW a stored MinHash index without rewriting it: the new batch is
    shingled and banded with the STORED parameters and lands as an
    immutable segment ``{path}/segments/{segment}/{bands,shingles}`` —
    the Lucene-style segment model, which is what makes daily ingest
    O(new batch) at 100 TB: the base index's files are never touched, and
    a probe unions the base with every segment (same schemas, so the
    union is a multi-path scan, not a shuffle). Compaction (rewriting
    base+segments into one) is a plain re-save over the unioned corpus
    when segment count grows — deliberately not automatic."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "meta.json")) as fh:
        meta = _json.load(fh)
    if segment in meta.get("segments", []):
        raise ValueError(f"segment {segment!r} already exists in {path}")
    if _os.path.join("segments", segment) in meta.get("stale", []):
        # the name's dir is deferred-swept garbage of the previous
        # compaction — writing into it would break old-meta probe plans
        # (same hazard as tombstone-name reuse; review finding r8)
        raise ValueError(f"segment name {segment!r} is pending deferred sweep in {path}; pick a fresh name")
    seg_dir = _os.path.join(path, "segments", segment)
    arrays = track(
        _shingle_arrays(
            new_docs, text_col, id_col, meta["shingle_words"], hashed=True
        ).persist()
    )
    sig = minhash_signatures(arrays, meta["num_perm"])
    _banded_signatures(sig, meta["bands"], meta["num_perm"]).write.mode(
        "overwrite"
    ).partitionBy("band").parquet(_os.path.join(seg_dir, "bands"))
    arrays.write.mode("overwrite").parquet(_os.path.join(seg_dir, "shingles"))
    arrays.unpersist()
    meta["segments"] = meta.get("segments", []) + [segment]
    from .index_maintenance import atomic_write_json

    atomic_write_json(_os.path.join(path, "meta.json"), meta)


def compact_minhash_index(spark, path: str) -> None:
    """Fold every appended segment back into the base index — the
    compaction step that bounds probe fan-in after many appends. No
    re-shingling happens: the stored band rows and shingle arrays are
    already final (signatures are content-deterministic), so compaction
    is a pure file rewrite — read base+segments into a fresh VERSIONED
    base dir, then atomically commit meta to point at it (os.replace).
    At 100 TB this is the background merge job; the superseded layout is
    DEFER-SWEPT — left on disk until the NEXT compaction commits
    (index_maintenance.commit_compaction) — so probe DataFrames planned
    against the old meta keep working across a full compaction cycle,
    and a crash at any point leaves either the old index fully intact or
    the new one committed with only stale dirs pending sweep."""
    import json as _json
    import os as _os

    from .index_maintenance import commit_compaction, next_base_dir, read_tombstones

    with open(_os.path.join(path, "meta.json")) as fh:
        meta = _json.load(fh)
    segs = meta.get("segments", [])
    tombs = meta.get("tombstones", [])
    if not segs and not tombs:
        return
    tomb = read_tombstones(spark, path, meta)
    seg_dirs = [_os.path.join(path, "segments", s) for s in segs]
    old_base = meta.get("base_dir") or ""
    new_base = next_base_dir(meta)
    tmp = _os.path.join(path, new_base)

    def _read_all(sub):
        parts = [spark.read.parquet(_minhash_base(path, meta, sub))] + [
            spark.read.parquet(_os.path.join(s, sub)) for s in seg_dirs
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if tomb is not None:  # tombstoned docs drop PHYSICALLY here
            out = out.join(tomb, out["doc"] == tomb["id"], "left_anti")
        return out

    _read_all("bands").withColumn("band", F.col("band").cast("int")).write.mode(
        "overwrite"
    ).partitionBy("band").parquet(_os.path.join(tmp, "bands"))
    _read_all("shingles").write.mode("overwrite").parquet(_os.path.join(tmp, "shingles"))
    superseded = (
        ([old_base] if old_base else ["bands", "shingles"])
        + [_os.path.join("segments", s) for s in segs]
        + [_os.path.join("tombstones", t) for t in tombs]
    )
    meta["segments"] = []
    meta["tombstones"] = []
    meta["base_dir"] = new_base
    commit_compaction(path, _os.path.join(path, "meta.json"), meta, superseded)


def probe_minhash_index(
    spark,
    path: str,
    new_docs: DataFrame,
    min_jaccard: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    exclude_segments: tuple[str, ...] = (),
) -> DataFrame:
    """Near-dup pairs (doc_a = new, doc_b = stored) of a NEW batch against
    a :func:`save_minhash_index` snapshot: shingle+sign only the new batch
    with the stored parameters, band-join against the stored band table,
    then exact-verify candidates against the STORED shingle arrays — the
    stored corpus text is never touched. The stored side is the BASE index
    unioned with every appended segment (one multi-path scan per table —
    same schemas, no shuffle). Precision 1 by construction (exact verify);
    recall is the banding guarantee, same as the in-memory cross tier.

    ``exclude_segments`` drops named segments from the stored side — the
    crash-replay guard for streaming ingest: a micro-batch retried AFTER
    its own segment landed must not match itself through the index
    (streaming/ingest.py passes its own epoch's segment name).

    Committed tombstones (index_maintenance.add_tombstones — GDPR-style
    erasure without an index rewrite) are anti-joined out of the stored
    band table before the candidate join, so an erased doc can never
    surface in any pair; probe-after-delete equals a rebuild over the
    surviving corpus exactly (oracled in llm_dedup_index_erasure)."""
    import json as _json
    import os as _os

    from .index_maintenance import read_tombstones

    with open(_os.path.join(path, "meta.json")) as fh:
        meta = _json.load(fh)
    tomb = read_tombstones(spark, path, meta)
    seg_dirs = [
        _os.path.join(path, "segments", s)
        for s in meta.get("segments", [])
        if s not in exclude_segments
    ]
    arrays_new = track(
        _shingle_arrays(
            new_docs, text_col, id_col, meta["shingle_words"], hashed=True
        ).persist()
    )
    sig_new = minhash_signatures(arrays_new, meta["num_perm"])
    banded_new = _banded_signatures(sig_new, meta["bands"], meta["num_perm"])
    # One read per segment root, unioned by name: a single multi-path read
    # trips parquet partition discovery (band= dirs at different depths →
    # CONFLICTING_DIRECTORY_STRUCTURES); the union of separate scans is
    # the same plan shape — parallel file scans, no shuffle.
    def _read_all(sub):
        parts = [spark.read.parquet(_minhash_base(path, meta, sub))] + [
            spark.read.parquet(_os.path.join(s, sub)) for s in seg_dirs
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    banded_old = (
        _read_all("bands")
        # partition-column inference narrows band to int; normalize both
        # sides so the join keys match exactly
        .withColumn("band", F.col("band").cast("int"))
    )
    if tomb is not None:
        # anti-join (not isin) so a large erasure batch stays distributed;
        # AQE broadcasts the usual small delete set on its own
        banded_old = banded_old.join(
            tomb, banded_old["doc"] == tomb["id"], "left_anti"
        )
    cand = (
        banded_new.alias("a")
        .join(
            banded_old.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    sa = arrays_new.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = _read_all("shingles").select(
        F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b")
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "n_inter", "n_a", "n_b", "jaccard")
    )


def lsh_cross_candidate_pairs(
    sig_new: DataFrame, sig_old: DataFrame, bands: int = 16, num_perm: int = 64
) -> DataFrame:
    """Cross-corpus LSH candidates: band BOTH signature sets with the same
    permutations and join new-side bands against old-side bands — the
    candidate tier of snapshot near-dedup (new crawl × stored corpus).
    Cost is linear in each side's docs plus band-collisions; nothing is
    ever compared all-pairs. Returns ordered (doc_a=new, doc_b=old)."""
    banded_new = _banded_signatures(sig_new, bands, num_perm)
    banded_old = _banded_signatures(sig_old, bands, num_perm)
    return (
        banded_new.alias("a")
        .join(
            banded_old.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
