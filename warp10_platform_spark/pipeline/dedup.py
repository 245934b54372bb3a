"""Deduplication operators for training-data pipelines.

Four tiers, increasingly scalable:
  exact          — md5 hash-groupBy (shuffle carries (hash, id)).
  ngram jaccard  — exact set-similarity self-join on shared shingles;
                   quadratic in co-shingled docs: the CORRECTNESS baseline.
  minhash + LSH  — banded signature bucketing; candidates only from
                   same-bucket pairs, then exact verify: the 100 TB path.
  simhash        — 64-bit weighted fingerprint + hamming blocking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def TOKS():
    return F.split(F.trim(F.col("text")), " ")

# Mersenne prime 2^31-1 for the universal-hash family (a*h+b mod p):
# 31-bit operands keep a*h < 2^62 so ANSI-mode long arithmetic never
# overflows; 31-bit minhash space is ample for signature accuracy.
_P = (1 << 31) - 1

# Base 64-bit hash templates. xxhash64 is the fast path (JVM intrinsic);
# the md5-derived 60-bit variant computes identically in DuckDB
# (('0x' || substr(md5(x),1,15))::BIGINT), making minhash/simhash outputs
# oracle-checkable bit-for-bit across engines.
_XX64 = "xxhash64({x})"
_MD5_64 = "cast(conv(substr(md5({x}), 1, 15), 16, 10) AS bigint)"


from warp10_platform_spark.pipeline.util import spread as _spread
from warp10_platform_spark.plans import plan_bytes

# r10 (guide §4.2): above this estimated input size, the fingerprint
# folds (simhash's per-token ±1 majority, minhash's 32-hash signature)
# run as Arrow-batched numpy kernels instead of interpreted HOF exprs.
# The folds are the per-row hot path (HOFs don't codegen: one boxed
# lambda eval per (token, lane) pair) and the kernels are bit-exact
# (tests/test_kernels.py), but the Python boundary has a ~0.25 s fixed
# cost per query at local[32] — measured crossover on the sf ladder:
# HOF wins at sf0.1 (0.6 MB, 5k docs; kernel +0.25 s), kernel wins ≥1.4×
# at 10× that and grows with volume. The measured documents estimates,
# sf0.1 594,568 B and sf1 911,011 B, are both under the 4 MiB gate, so
# both take the HOF route; only corpora over 4 MiB reach the kernel.
_KERNEL_MIN_BYTES = 4 * 1024 * 1024


def _kernel_input(docs: DataFrame) -> bool:
    """True when `docs` is big enough that the vectorized fingerprint
    kernels beat the interpreted HOF forms. An unknown size (streaming
    frames, createDataFrame test frames) keeps the HOF forms: real
    corpora come from files whose estimates exist, and unknown-size
    frames should take the same plan the bench SFs take."""
    size = plan_bytes(docs)
    return size is not None and size >= _KERNEL_MIN_BYTES


def exact_dup_groups(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: md5(text) → (hash, n, keeper)."""
    return (
        docs.select(F.col(id_col), F.md5("text").alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("n"), F.min(id_col).alias("keep_id"))
        .where(F.col("n") >= 2)
    )


# Duplicate groups up to this size explode their intra-group pairs with
# a per-row HOF (≤ k(k-1)/2 = 2016 structs per row, distributed across
# the many small groups); only LARGER groups — rare, but one can hold
# half a skewed corpus (r5 skew finding) — pay the distributed self-join,
# so neither a single task builds a quadratic pair list nor the common
# unskewed case pays an extra shuffle.
_INTRA_FLAT_MAX = 64


def _group_members(keyed: DataFrame, key: str = "gk") -> DataFrame:
    """Annotate each row of `keyed` with its identical-content group's
    (rep, cnt) via an unbounded window over the group key, and persist
    the result — the ONE cached frame each guard's downstream branches
    (reps, membership expansion, intra-pairs) all read. Replaces the
    pre-r8 groupBy(collect_list(ids)) pattern: a giant duplicate group
    now occupies one window task that STREAMS min/count (spillable)
    instead of one ~GB array row in an aggregation buffer. The persist
    is tracked by pipeline.cache (bounded registry + release API) so a
    long-lived session never accumulates guard caches (r9)."""
    from warp10_platform_spark.pipeline import cache as _cache

    w = Window.partitionBy(key)
    return _cache.register(
        keyed.select(
            "*", F.min("doc_id").over(w).alias("rep"), F.count("*").over(w).alias("cnt")
        )
    )


def _intra_pairs(member: DataFrame) -> DataFrame:
    """(id_a, id_b) pairs within each identical-doc group. `member` has
    one row per doc: (rep, doc_id, cnt) where rep = the group's min
    id and cnt = group size (the group key column itself is not read —
    rep determines the group). Hybrid on group size, see above — with the
    r8 refinement that NO unbounded collect_list exists anywhere: small
    groups re-pack a BOUNDED (≤ _INTRA_FLAT_MAX) id array per group and
    flatten their pairs in one row; big groups pay the distributed
    self-join. A 10^8-copy duplicate group therefore never builds a ~GB
    array in a single aggregation buffer (the skew hole the r8 review
    found in the semantic-dedup guard applies identically here).

    r9 NEGATIVE RESULT (measured, kept rep-keyed): grouping/joining on
    the original window key instead of `rep` CANNOT elide the exchange —
    the member frame is cached under an AdaptiveSparkPlan wrapper whose
    output partitioning is opaque to consumers, so EnsureRequirements
    re-shuffles either way, and `rep` (8-byte long) shuffles narrower
    than the md5 key string (guide §2.3). Forcing static cached plans
    (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=false)
    measured consistently WORSE across the dedup family (interleaved
    A/B: 6.1-6.7 s vs 5.1-5.9 s for the 4-query set) — AQE inside the
    cached subplans is worth more than the saved exchange."""
    # inline() emits (id_a, id_b) columns straight from the struct array —
    # one Dataset op instead of explode-then-project (r10: every chained
    # DataFrame op re-analyzes the whole accumulated tree, so the deep
    # dedup chains paid ~40 ms of driver time per op; plan unchanged
    # modulo the generator node).
    small = (
        member.where((F.col("cnt") > 1) & (F.col("cnt") <= _INTRA_FLAT_MAX))
        .groupBy("rep")
        .agg(F.collect_list("doc_id").alias("ids"))
        .select(F.expr(
            "inline(flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), "
            "y -> named_struct('id_a', least(x, y), 'id_b', greatest(x, y))))))"
        ))
    )
    big = member.where(F.col("cnt") > _INTRA_FLAT_MAX).select("rep", "doc_id")
    ia, ib = big.alias("ia"), big.alias("ib")
    joined = (
        ia.join(ib, (F.col("ia.rep") == F.col("ib.rep")) & (F.col("ia.doc_id") < F.col("ib.doc_id")))
        .select(F.col("ia.doc_id").alias("id_a"), F.col("ib.doc_id").alias("id_b"))
    )
    return small.unionByName(joined)


def _shingles(docs: DataFrame, n: int, id_col: str) -> DataFrame:
    """doc → distinct word n-gram shingles (array column). Docs shorter
    than n tokens are dropped (no shingle)."""
    d = docs.select(F.col(id_col).alias("doc_id"), TOKS().alias("toks")).where(F.size("toks") >= n)
    parts = " , ' ' , ".join(f"toks[i + {j}]" for j in range(n))
    return d.select(
        "doc_id",
        F.expr(f"array_distinct(transform(sequence(0, size(toks) - {n}), i -> concat({parts})))").alias("sh"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.3,
    id_col: str = "doc_id",
    cluster_edges: bool = False,
) -> DataFrame:
    """Exact Jaccard ≥ threshold pairs over distinct word n-grams.

    Plan: identical-set guard → explode shingles over REPRESENTATIVES →
    self equi-join on shingle (intersection counts) → join per-doc sizes
    → filter → expand back to member pairs.

    The guard (same shape as the minhash band-skew guard): byte-identical
    docs share every shingle, so the per-shingle self-join degenerates to
    |group|² × |shingles| under heavy duplication (a 50%-duplicate corpus
    took the unguarded join from seconds to tens of minutes — measured on
    the r5 skew fixture). One groupBy on the sorted-shingle-set key
    collapses each identical group to its min-id representative; pairs
    between reps expand back exactly (identical sets ⇒ identical
    intersection counts ⇒ identical jaccard), and intra-group pairs are
    jaccard = 1.0 by construction. The output SET is exactly the
    unguarded one (property-tested).

    Intra/expansion pairs are produced by distributed equi-joins on the
    group key — never a single-row pair flatten, so one giant duplicate
    group cannot pin one task.

    cluster_edges=True returns a CONNECTIVITY-equivalent subset instead
    of all pairs: rep↔rep pairs plus rep↔member star edges. Connected
    components over these edges equal components over the full pair set
    (every member is connected to its rep), while a k-duplicate group
    contributes k-1 edges instead of k(k-1)/2 — the shape dup-clustering
    at 100 TB needs.
    """
    key = F.md5(F.array_join(F.array_sort("sh"), "\x01"))
    # ONE persisted frame carries shingles + content key + per-group
    # (rep, cnt) via an unbounded window — no collect_list of member ids
    # anywhere, so no group ever materializes its full id list in one
    # aggregation-buffer row (r8, the skew hole the review found in the
    # semantic-dedup guard; a giant group here lands in one WINDOW task
    # that streams min/count with spill, never one giant row). Reps,
    # membership and intra-pairs all read this cache — no extra joins.
    member = _group_members(
        _shingles(_spread(docs), n, id_col).select("doc_id", "sh", key.alias("gk"))
    )
    rsh = member.where(F.col("doc_id") == F.col("rep")).select("doc_id", "sh")
    e = rsh.select("doc_id", F.explode("sh").alias("s"))
    sizes = rsh.select("doc_id", F.size("sh").alias("n"))
    a, b = e.alias("a"), e.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("i"))
    )
    na, nb = sizes.alias("na"), sizes.alias("nb")
    j = F.col("i") / (F.col("na.n") + F.col("nb.n") - F.col("i"))
    # no broadcast hint: sizes is one row per doc, which outgrows the
    # broadcast threshold at corpus scale; AQE broadcasts it when small.
    rep_pairs = (
        inter.join(na, F.col("id_a") == F.col("na.doc_id"))
        .join(nb, F.col("id_b") == F.col("nb.doc_id"))
        .where(j >= threshold)
        .select(F.col("id_a").alias("rep_a"), F.col("id_b").alias("rep_b"), F.round(j, 6).alias("jaccard"))
    )
    if cluster_edges:
        stars = member.where(F.col("doc_id") != F.col("rep")).select(
            F.col("rep").alias("id_a"), F.col("doc_id").alias("id_b"), F.lit(1.0).alias("jaccard")
        )
        reps_out = rep_pairs.select(
            F.col("rep_a").alias("id_a"), F.col("rep_b").alias("id_b"), "jaccard"
        )
        return reps_out.unionByName(stars)
    ma, mb = member.alias("ma"), member.alias("mb")
    expanded = (
        rep_pairs.join(ma, F.col("ma.rep") == F.col("rep_a"))
        .join(mb, F.col("mb.rep") == F.col("rep_b"))
        .select(
            F.least("ma.doc_id", "mb.doc_id").alias("id_a"),
            F.greatest("ma.doc_id", "mb.doc_id").alias("id_b"),
            "jaccard",
        )
    )
    intra = _intra_pairs(member).withColumn("jaccard", F.lit(1.0))
    if threshold > 1.0:
        intra = intra.where(F.lit(False))
    return expanded.unionByName(intra)


def minhash_signatures(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
    portable: bool = False,
    vectorized: bool | None = None,
) -> DataFrame:
    """MinHash signature per doc: base hash = xxhash64(shingle) (JVM,
    deterministic), hash family h_i = (a_i*h + b_i) mod p; signature[i] =
    min over shingles. Base hashing stays a JVM expression; the 32-lane
    min fold is the per-row hot path and routes by input size
    (_kernel_input) between the HOF expr form and the bit-exact numpy
    kernel (kernels.minhash_sig_from_hs) — `vectorized` forces a path
    (the equivalence tests drive both). Pass a precomputed (cached)
    `shingles` frame to avoid re-shingling when the caller also needs
    the shingles."""
    import random

    rnd = random.Random(42)
    coeffs = [(rnd.randrange(1, _P), rnd.randrange(0, _P)) for _ in range(num_hashes)]
    sh = shingles if shingles is not None else _shingles(docs, n, id_col)
    h = (_MD5_64 if portable else _XX64).format(x="s")
    hashed = sh.select("doc_id", F.expr(f"transform(sh, s -> ({h}) & {_P}L)").alias("hs"))
    if vectorized is None:
        vectorized = _kernel_input(docs)
    if vectorized:
        from warp10_platform_spark.pipeline import kernels as _kern

        return _kern.minhash_sig_from_hs(hashed, coeffs, _P)
    # ONE expr for the whole signature array (not num_hashes separate
    # F.expr columns): plan-construction cost at the driver is py4j/
    # analysis round-trips per expression, and this query's bench number
    # was ~40 % plan build (r6 verdict ask #5 — profiled r7).
    sig = "array(" + ", ".join(
        f"array_min(transform(hs, h -> (h * {a}L + {b}L) % {_P}L))" for a, b in coeffs
    ) + ")"
    return hashed.select("doc_id", F.expr(sig).alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.3,
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Banded LSH over minhash signatures → candidate pairs → exact
    Jaccard verify. The join key is (band_index, band_hash): only docs
    agreeing on a full band collide, so shuffle volume is |docs|·bands
    rows — independent of the pair count. Output contract matches
    ngram_jaccard_pairs (id_a, id_b, jaccard). portable=True swaps the
    base hash and band key for forms DuckDB reproduces exactly."""
    rows = num_hashes // bands
    sh = _shingles(_spread(docs), n, id_col)
    # ---- identical-set guard -------------------------------------------
    # Degenerate corpora (thousands of byte-identical docs) put whole
    # groups on EVERY band key (quadratic×bands band join) AND make the
    # candidate set quadratic, which the exact verify then pays per pair
    # (the r5 skew fixture: 3.1M candidates × ~100-shingle arrays = 467 s
    # mostly in verify). Group docs by their SORTED SHINGLE SET (one
    # shuffle): signatures, band join and exact verify all run over one
    # min-id representative per distinct set. Expansion is exact, not
    # approximate — identical sets ⇒ identical signatures/band keys AND
    # identical jaccard against any third doc, and intra-group pairs are
    # jaccard = 1.0 by construction. Output set == the unguarded one
    # (property-tested: test_minhash_lsh_guard_preserves_candidates).
    gk = F.md5(F.array_join(F.array_sort("sh"), "\x01"))
    # ONE persisted frame (shingles + content key + windowed rep/cnt —
    # _group_members) serves signature computation, the rep-level exact
    # verify, membership expansion and intra-pairs; no collect_list of
    # member ids anywhere (r8 — see _group_members/_intra_pairs).
    member = _group_members(sh.select("doc_id", "sh", gk.alias("gk")))
    reps_sh = member.where(F.col("doc_id") == F.col("rep")).select("doc_id", "sh")
    reps = minhash_signatures(docs, n, num_hashes, id_col, shingles=reps_sh, portable=portable)
    if portable:
        bh = f"array_join(slice(sig, b * {rows} + 1, {rows}), ',')"
    else:
        bh = f"xxhash64(cast(slice(sig, b * {rows} + 1, {rows}) AS string))"
    # inline() emits (band, bh) directly — fuses the explode + struct-field
    # projection into one Dataset op (r10 build-chain fusion; same plan
    # modulo the generator node).
    band_col = F.expr(
        f"inline(transform(sequence(0, {bands - 1}), b -> named_struct('band', b, 'bh', {bh})))"
    )
    # r9: persist the banded frame — the band SELF-join otherwise
    # recomputes the full signature expression on BOTH branches (when
    # one side broadcasts there is no Exchange for reuse to dedupe; a
    # forced sort-merge join measured WORSE than either option). The
    # cache holds (doc_id, band, bh) scalars only — |reps|·bands rows,
    # tiny next to the shingle arrays — and is tracked by the same
    # bounded registry as the guard cache. Measured at sf0.1: 1.3 s →
    # 1.0-1.1 s interleaved medians, output identical.
    from warp10_platform_spark.pipeline import cache as _cache

    banded = _cache.register(reps.select("doc_id", band_col))
    a, b = banded.alias("a"), banded.alias("b")
    rcands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("rep_a"), F.col("b.doc_id").alias("rep_b"))
        .distinct()
    )
    # exact verify on REP pairs only (sh shared with the signature stage)
    sa = reps_sh.select(F.col("doc_id").alias("rep_a"), F.col("sh").alias("sh_a"))
    sb = reps_sh.select(F.col("doc_id").alias("rep_b"), F.col("sh").alias("sh_b"))
    # one fused select computes the jaccard (the optimizer collapsed the
    # old withColumn pair into the same expression anyway — this just
    # skips two whole-tree re-analyses at build time; r10 chain fusion)
    _i = F.size(F.array_intersect("sh_a", "sh_b"))
    rep_pairs = (
        rcands.join(sa, "rep_a")
        .join(sb, "rep_b")
        .select(
            "rep_a", "rep_b",
            (_i / (F.size("sh_a") + F.size("sh_b") - _i)).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("rep_a", "rep_b", F.round("jaccard", 6).alias("jaccard"))
    )
    ma, mb = member.alias("ma"), member.alias("mb")
    expanded = (
        rep_pairs.join(ma, F.col("ma.rep") == F.col("rep_a"))
        .join(mb, F.col("mb.rep") == F.col("rep_b"))
        .select(
            F.least("ma.doc_id", "mb.doc_id").alias("id_a"),
            F.greatest("ma.doc_id", "mb.doc_id").alias("id_b"),
            "jaccard",
        )
    )
    # Intra-group pairs (identical shingle sets, jaccard exactly 1.0):
    # hybrid flatten/self-join on group size (_intra_pairs).
    intra = _intra_pairs(member).withColumn("jaccard", F.lit(1.0))
    if threshold > 1.0:
        intra = intra.where(F.lit(False))
    return expanded.unionByName(intra)


def simhash(docs: DataFrame, id_col: str = "doc_id", portable: bool = False,
            vectorized: bool | None = None) -> DataFrame:
    """64-bit SimHash per doc: per-token xxhash64; fingerprint bit b = 1
    iff sum over tokens of ±1 for bit b is positive. Token hashing stays
    a JVM expression; the 64-lane majority fold routes by input size
    (_kernel_input) between the HOF expr form and the bit-exact numpy
    kernel (kernels.simhash_from_hs) — `vectorized` forces a path.
    portable=True uses the md5-derived 60-bit base hash (bits 60-63 are
    then always 0) so DuckDB reproduces the fingerprint exactly."""
    d = docs.select(F.col(id_col).alias("doc_id"), TOKS().alias("toks"))
    h = (_MD5_64 if portable else _XX64).format(x="t")
    hashed = d.select("doc_id", F.expr(f"transform(toks, t -> {h})").alias("hs"))
    if vectorized is None:
        vectorized = _kernel_input(docs)
    if vectorized:
        from warp10_platform_spark.pipeline import kernels as _kern

        return _kern.simhash_from_hs(hashed)
    # Single pass over the token hashes: accumulate a 64-element count
    # vector (one zip_with per token), then fold the sign bits into the
    # fingerprint. Replaces 64 independent aggregate() exprs that each
    # re-walked the array (64 passes/row and a codegen-bloated plan).
    # single fused expression (count vector nested inside the sign fold):
    # the optimizer collapsed the old two-select form into exactly this
    # projection, so the plan is unchanged — nesting just skips one
    # whole-tree re-analysis at build time (r10 chain fusion).
    counts = (
        "aggregate(hs, array_repeat(0L, 64), (acc, h) -> "
        "zip_with(acc, sequence(0, 63), (c, b) -> c + CASE WHEN (shiftright(h, b) & 1) = 1 THEN 1L ELSE -1L END))"
    )
    fp = F.expr(
        f"aggregate(zip_with({counts}, sequence(0, 63), (c, b) -> CASE WHEN c > 0 THEN shiftleft(1L, b) ELSE 0L END), "
        "0L, (acc, v) -> acc | v)"
    )
    return hashed.select("doc_id", fp.alias("simhash"))


def simhash_pairs(docs: DataFrame, radius: int = 3, id_col: str = "doc_id", portable: bool = False) -> DataFrame:
    """Near-dup pairs within hamming radius via 4-segment blocking: if
    hamming(a,b) ≤ 3, at least one 16-bit segment is identical (pigeonhole)
    → equi-join per segment, then exact hamming filter via bit_count.

    Identical-fingerprint guard (r7, the minhash guard's twin): docs
    group by FINGERPRINT first (identical simhash ⇒ identical segments
    AND identical hamming to any third doc), the segment self-join runs
    over one min-id representative per distinct fingerprint, and pairs
    expand back exactly — intra-group pairs are hamming 0 by
    construction, cross-group pairs inherit their rep pair's hamming.
    Output SET identical to the unguarded join (property-tested); the
    join/distinct shuffle becomes duplication-independent (4 rows per
    DISTINCT fingerprint instead of 4·ΣC(k,2) duplicate-bucket rows —
    the sf10 fixture, 100 copies per text, measured 46.9 s unguarded
    with the whole excess in the blocked self-join + distinct)."""
    # ONE persisted frame (fingerprint + windowed rep/cnt) serves the
    # segment blocking, membership expansion and intra-pairs; no
    # collect_list of member ids (r8 — see _group_members/_intra_pairs).
    s = simhash(_spread(docs), id_col, portable=portable)
    member = _group_members(s.select("doc_id", "simhash"), key="simhash")
    reps = member.where(F.col("doc_id") == F.col("rep")).select("doc_id", "simhash")
    # inline() fuses the explode + struct-field projection (r10 chain
    # fusion; plan unchanged modulo the generator node)
    segs = reps.select(
        "doc_id",
        "simhash",
        F.expr("inline(transform(sequence(0, 3), i -> named_struct('seg', i, 'sv', shiftright(simhash, i * 16) & 65535)))"),
    )
    a, b = segs.alias("a"), segs.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    # The hamming radius test sits IN the join condition — that is where
    # Catalyst pushed it anyway (the r9 "filter before distinct" reorder
    # was plan-identical for exactly that reason), so the construction
    # now says what the plan does, one Dataset op cheaper: hamming is a
    # function of the pair, filter∘distinct ≡ distinct∘filter, and most
    # segment collisions fail radius ≤ 3, shrinking the distinct's
    # shuffle input (guide §2.3).
    rep_pairs = (
        a.join(
            b,
            (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.sv") == F.col("b.sv"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (ham <= radius),
        )
        .select(F.col("a.doc_id").alias("rep_a"), F.col("b.doc_id").alias("rep_b"), ham.alias("hamming"))
        .distinct()
    )
    ma, mb = member.alias("ma"), member.alias("mb")
    expanded = (
        rep_pairs.join(ma, F.col("ma.rep") == F.col("rep_a"))
        .join(mb, F.col("mb.rep") == F.col("rep_b"))
        .select(
            F.least("ma.doc_id", "mb.doc_id").alias("id_a"),
            F.greatest("ma.doc_id", "mb.doc_id").alias("id_b"),
            "hamming",
        )
    )
    intra = _intra_pairs(member).withColumn("hamming", F.lit(0))
    return expanded.unionByName(intra)
