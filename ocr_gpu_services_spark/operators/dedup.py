"""Deduplication operators for the web-scale pipeline (driver mandate):
exact, SimHash, MinHash+LSH, n-gram Jaccard, word-overlap similarity (A2).

All variants are pure DataFrame/SQL lineage — shuffles only on the keys that
genuinely need them:
* exact: one groupBy on the fingerprint (map-side combine)
* simhash: explode tokens -> one groupBy(doc) with 16 conditional sums
* minhash+LSH: explode shingles -> groupBy(doc) min-aggs -> explode bands ->
  self-equi-join on (band, band_hash) — the classic band-bucket join; at
  100 TB the band join is the ONLY pairwise step and touches candidate
  buckets, never the full cross product
* n-gram Jaccard: distinct-shingle equi-join on shingle (co-partitioned by
  the join key), |A∪B| via the inclusion-exclusion identity

Hash primitive: 32-bit int from an md5 prefix, identical formula in Spark
(`conv(substr(md5(x),1,8),16,10)`) and DuckDB (`('0x'||substr(...))::BIGINT`)
so the oracle cross-check is exact (no engine-specific hash()).

Reference parity note: the reference's only similarity operator is the
word-overlap score |common|/max(|a|,|b|)
(/root/reference/src/ml/classifier/model.py:39-57) — `word_overlap_pairs`
is its distributed twin; the dedup family generalizes it to corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from .textstats import fingerprint_col, fingerprint_sql, tokens_col, tokens_sql

N_MINHASH = 8
N_BANDS = 4  # rows per band = N_MINHASH / N_BANDS = 2
SIMHASH_BITS = 16
# Degenerate-key guards (ON by default — the standard web-corpus fix for
# boilerplate skew).  A shingle shared by more documents than MAX_SHINGLE_DF
# carries no near-dup signal but makes the shingle equi-join quadratic in
# its df; a minhash band bucket larger than MAX_BAND_BUCKET is almost
# always a degenerate band (empty docs, boilerplate) and contributes
# c-choose-2 candidate pairs.  Both caps bound per-key join fan-out at
# 10^12-doc scale; the DuckDB oracles apply the identical rule, so the
# gates stay exact.
MAX_SHINGLE_DF = 1000
MAX_BAND_BUCKET = 200
# dup_clusters: first round index that pointer-jumps (see the sweep in
# the round loop) — early rounds propagate without the self-join.
JUMP_FROM_ROUND = 3


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (canonicalized) docs with a canonical id."""
    return (docs
            .withColumn("fingerprint", fingerprint_col(text_col))
            .groupBy("fingerprint")
            .agg(F.count("*").alias("n_dups"),
                 F.min("doc_id").alias("canonical_doc_id"))
            .filter(F.col("n_dups") > 1))


def exact_dup_groups_sql(table: str = "documents") -> str:
    return f"""
    SELECT fingerprint, n_dups, canonical_doc_id FROM (
      SELECT {fingerprint_sql('text')} AS fingerprint,
             count(*) AS n_dups, min(doc_id) AS canonical_doc_id
      FROM {table} GROUP BY 1) WHERE n_dups > 1
    """


# ---------------------------------------------------------------------------
# shingles (3-gram) helpers
# ---------------------------------------------------------------------------

def shingles_col(text_col: str, n: int = 3):
    toks = tokens_col(F.col(text_col))
    return shingles_from_tokens(toks, n)


def shingles_from_tokens(toks, n: int = 3):
    """Shingles over an ALREADY-MATERIALIZED token array column.

    Callers must bind the tokenizer to a real column first
    (``withColumn('_toks', tokens_col(...))``): a lambda that embeds the
    tokenizer expression re-evaluates the full regex split for every
    ``element_at`` access (3x per shingle -> O(len * tokens) per doc,
    measured 38 s for 300k shingles), while an attribute reference makes
    each access O(1) on the cached array.
    """
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + k + 1).cast("int"))
                       for k in range(n)]))
    ).otherwise(F.array(F.array_join(toks, " ")))


def _exploded_shingles(docs: DataFrame, text_col: str,
                       distinct: bool = False) -> DataFrame:
    toks = docs.withColumn("_toks", tokens_col(F.col(text_col)))
    sh = shingles_from_tokens(F.col("_toks"))
    if distinct:
        sh = F.array_distinct(sh)
    return toks.select("doc_id", F.explode(sh).alias("sh"))


def shingles_sql(text_expr: str, n: int = 3) -> str:
    toks = tokens_sql(text_expr)
    parts = " || ' ' || ".join(f"({toks})[i + {k}]" for k in range(n))
    return (f"(CASE WHEN len({toks}) >= {n} THEN "
            f"list_transform(generate_series(1, len({toks}) - {n - 1}), "
            f"i -> {parts}) "
            f"ELSE [array_to_string({toks}, ' ')] END)")


# ---------------------------------------------------------------------------
# 32-bit hash primitive shared with the oracle
# ---------------------------------------------------------------------------

def _h32_spark(col):
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def h32_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


# ---------------------------------------------------------------------------
# SimHash (16-bit, md5-derived bits)
# ---------------------------------------------------------------------------

def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-row SimHash: NO explode, NO groupBy — each doc folds its own
    token-hash array with higher-order functions, so the operator is pure
    map-side (zero shuffle) and scales linearly with corpus bytes.  The
    DuckDB oracle keeps the equivalent explode+groupBy formulation; the
    integer math is identical."""
    # 16-bit token hash from the first 4 hex chars of md5
    hv = F.transform(
        tokens_col(F.col(text_col)),
        lambda t: F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("int"))
    d = (docs.withColumn("_hv", hv)
         # explode semantics: docs with zero tokens produce no output row
         .filter(F.size("_hv") > 0))
    sh = F.lit(0).cast("bigint")
    for i in range(SIMHASH_BITS):
        bitsum = F.aggregate(
            F.col("_hv"), F.lit(0),
            lambda acc, v: acc + F.when(
                F.floor(v / (2 ** i)) % 2 == 1, 1).otherwise(-1))
        sh = sh + F.when(bitsum > 0, 2 ** i).otherwise(0)
    return d.select("doc_id", sh.alias("simhash"))


def simhash_sql(table: str = "documents", where: str = "TRUE") -> str:
    v = "CAST(('0x' || substr(md5(tok), 1, 4)) AS INTEGER)"
    sum_cols = ", ".join(
        f"sum(CASE WHEN (floor({v} / {2 ** i}) % 2) = 1 THEN 1 ELSE -1 END)"
        f" AS s{i}" for i in range(SIMHASH_BITS))
    sh = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {2 ** i} ELSE 0 END)"
        for i in range(SIMHASH_BITS))
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({tokens_sql('text')}) AS tok
      FROM {table} WHERE {where}),
    sums AS (SELECT doc_id, {sum_cols} FROM toks GROUP BY doc_id)
    SELECT doc_id, CAST({sh} AS BIGINT) AS simhash FROM sums
    """


# ---------------------------------------------------------------------------
# MinHash + LSH band-bucket candidate pairs
# ---------------------------------------------------------------------------

def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      max_bucket: int | None = MAX_BAND_BUCKET) -> DataFrame:
    # per-row minhash signature: NO explode/groupBy — each doc maps its own
    # shingle array through k salted hashes and takes array_min, so the
    # signature stage is pure map-side; the ONLY shuffle in the whole
    # operator is the band-bucket equi-join below (the point of LSH: at
    # corpus scale pairwise work touches candidate buckets, never N^2)
    d = (docs.withColumn("_toks", tokens_col(F.col(text_col)))
         .withColumn("_sh", shingles_from_tokens(F.col("_toks"))))
    # k independent 32-bit hashes from TWO md5 digests (4 disjoint 8-hex
    # windows each) instead of k salted md5 calls: md5 bits are uniformly
    # mixed, so disjoint windows are independent hash functions for
    # minwise purposes, and the md5 count per shingle drops from
    # N_MINHASH to 2 — the signature stage is the operator's dominant
    # map cost and this is a ~4x cut.  Bound to a real column (`_hv`) so
    # CollapseProject doesn't inline the struct into all N array_mins.
    # NB: 1-arg lambdas only — F.transform treats a 2-arg lambda (e.g.
    # `lambda s, k=k`) as the (element, index) form.
    def windows(s):
        d0, d1 = F.md5(s), F.md5(F.concat(F.lit("1:"), s))
        return F.struct(*[
            F.conv(F.substring(dg, 1 + 8 * i, 8), 16, 10).cast("bigint")
             .alias(f"h{j * 4 + i}")
            for j, dg in enumerate((d0, d1)) for i in range(4)])

    assert N_MINHASH <= 8
    hv = d.withColumn("_hv", F.transform(F.col("_sh"), windows))
    mins = hv.select("doc_id", *[
        F.array_min(F.transform(F.col("_hv"), lambda x: x[f"h{k}"]))
         .alias(f"m{k}") for k in range(N_MINHASH)])
    rows_per_band = N_MINHASH // N_BANDS
    band_structs = []
    for b in range(N_BANDS):
        cols = [F.col(f"m{b * rows_per_band + r}").cast("string")
                for r in range(rows_per_band)]
        band_structs.append(F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws(":", *cols)).alias("bh")))
    bands = mins.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("b")
    ).select("doc_id", F.col("b.band").alias("band"),
             F.col("b.bh").alias("bh"))
    if max_bucket is not None:
        # degenerate-bucket guard: a bucket of c docs fans out c*(c-1)/2
        # candidate pairs; buckets above the cap are boilerplate/empty-doc
        # collisions, not near-dup signal.  Plan shape matters here: the
        # over-cap key set is TINY by construction (only boilerplate
        # collisions exceed the cap), so count it with a map-side partial
        # agg (groupBy shuffles distinct keys only, never full rows) and
        # remove it with a broadcast ANTI-join — zero added shuffle on the
        # main path and no sort, vs. the count-over-window formulation
        # that sorted the full exploded band rows (round-2 bench: +196%).
        # The count reads the checkpointed band table below, never the
        # signature stage.  The anti-join itself is erased by AQE's
        # empty-relation propagation whenever no bucket exceeds the cap,
        # so the guard's steady-state cost is just the per-bucket count.
        # partition count = defaultParallelism, not shuffle.partitions:
        # the exploded band rows are narrow (ints + one md5), so the
        # exchange wants exactly one bucket per core — measured ~1 s of
        # pure local task-scheduling overhead at 4x that count, and at
        # cluster scale defaultParallelism is executors*cores, the same
        # magnitude AQE would coalesce to anyway.
        want = docs.sparkSession.sparkContext.defaultParallelism
        bands = bands.repartition(want, F.col("band"), F.col("bh"))
        # Materialize the band table ONCE (localCheckpoint, same pattern
        # as dup_clusters' edge cache).  The former rely-on-ReusedExchange
        # shape silently broke: the self-join pushes isnotnull(doc_id) /
        # isnotnull(doc_id + 100000) predicates into its two scan
        # subtrees while the guard-count subtree has none, so the three
        # exchanges canonicalize DIFFERENTLY and the expensive signature
        # stage (tokenize + shingle + md5 minhash) ran up to 3x —
        # measured 12.1 s vs 4.2 s for one signature pass at sf1.0.  The
        # checkpointed table is 4 narrow rows/doc (band, bh, doc_id) —
        # a tiny fraction of corpus bytes at any scale — and guarantees
        # one signature evaluation no matter how consumers are planned.
        bands = bands.localCheckpoint(eager=True)
        over = (bands.groupBy("band", "bh")
                .agg(F.count("doc_id").alias("_c"))
                .filter(F.col("_c") > max_bucket)
                .select("band", "bh"))
        bands = bands.join(F.broadcast(over), ["band", "bh"], "left_anti")
    else:
        # no guard: the self-join still consumes the signature twice —
        # materialize once all the same
        bands = bands.localCheckpoint(eager=True)
    a, b_ = bands.alias("a"), bands.alias("b")
    return (a.join(b_, ["band", "bh"])
             .filter(F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
             .distinct())


def minhash_lsh_pairs_sql(table: str = "documents",
                          where: str = "TRUE",
                          max_bucket: int | None = MAX_BAND_BUCKET) -> str:
    def win(k: int) -> str:
        dg = "md5(sh)" if k < 4 else "md5('1:' || sh)"
        return f"substr({dg}, {1 + 8 * (k % 4)}, 8)"
    mins = ", ".join(
        f"min(CAST(('0x' || {win(k)}) AS BIGINT)) AS m{k}"
        for k in range(N_MINHASH))
    rows_per_band = N_MINHASH // N_BANDS
    band_rows = []
    for b in range(N_BANDS):
        cat = " || ':' || ".join(
            f"CAST(m{b * rows_per_band + r} AS VARCHAR)"
            for r in range(rows_per_band))
        band_rows.append(f"SELECT doc_id, {b} AS band, md5({cat}) AS bh FROM mins")
    bands = " UNION ALL ".join(band_rows)
    guard = (f"QUALIFY count(*) OVER (PARTITION BY band, bh) <= {max_bucket}"
             if max_bucket is not None else "")
    return f"""
    WITH sh AS (
      SELECT doc_id, unnest({shingles_sql('text')}) AS sh
      FROM {table} WHERE {where}),
    mins AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bands0 AS ({bands}),
    bands AS (SELECT * FROM bands0 {guard})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b USING (band, bh)
    WHERE a.doc_id < b.doc_id
    """


# ---------------------------------------------------------------------------
# n-gram Jaccard pairs
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        min_jaccard: float = 0.0,
                        max_df: int | None = MAX_SHINGLE_DF) -> DataFrame:
    sh = _exploded_shingles(docs, text_col, distinct=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    joinable = sh
    if max_df is not None:
        # boilerplate guard: a shingle present in df docs fans the
        # self-join out df^2 rows; shingles above the cap (universal
        # boilerplate) carry no near-dup signal and are excluded from the
        # INTERSECTION only — |A| and |B| stay the true sizes.  Jaccard is
        # exact for pairs sharing no capped shingle and a LOWER BOUND for
        # pairs that do (their intersection is undercounted while |A|,|B|
        # keep the capped shingle; a pair whose only overlap is capped
        # vanishes) — engine and oracle apply the identical rule.  Guard
        # plan: map-side partial-agg count of distinct shingle keys +
        # broadcast anti-join of the tiny over-cap set — no full-row sort
        # (the count-over-window formulation cost +125% in round 2).
        # Same one-exchange shape as the minhash guard (see there for the
        # count("doc_id"), AQE empty-relation, and partition-count
        # notes): repartition on the join key so the df-count subtree and
        # both self-join sides reuse a single exchange — the shingle
        # explode runs once.
        want = docs.sparkSession.sparkContext.defaultParallelism
        sh_p = sh.repartition(want, F.col("sh"))
        over = (sh_p.groupBy("sh").agg(F.count("doc_id").alias("_c"))
                .filter(F.col("_c") > max_df).select("sh"))
        joinable = sh_p.join(F.broadcast(over), "sh", "left_anti")
    a, b = joinable.alias("a"), joinable.alias("b")
    inter = (a.join(b, "sh")
             .filter(F.col("a.doc_id") < F.col("b.doc_id"))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("n_common")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("sz").alias("sz_b"))
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("jaccard", F.round(
                F.col("n_common").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")), 4))
            .filter(F.col("jaccard") > min_jaccard)
            .select("doc_a", "doc_b", "n_common", "jaccard"))


def ngram_jaccard_pairs_sql(table: str = "documents",
                            where: str = "TRUE",
                            min_jaccard: float = 0.0,
                            max_df: int | None = MAX_SHINGLE_DF) -> str:
    guard = (f"QUALIFY count(*) OVER (PARTITION BY sh) <= {max_df}"
             if max_df is not None else "")
    return f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, unnest({shingles_sql('text')}) AS sh
      FROM {table} WHERE {where}),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    joinable AS (SELECT * FROM sh {guard}),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM joinable a JOIN joinable b USING (sh) WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_common,
           round(CAST(n_common AS DOUBLE)
                 / (sa.sz + sb.sz - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(CAST(n_common AS DOUBLE)
                / (sa.sz + sb.sz - n_common), 4) > {min_jaccard}
    """


# ---------------------------------------------------------------------------
# word-overlap similarity (reference A2: |common| / max(|a|, |b|))
# ---------------------------------------------------------------------------

def word_overlap_pairs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    w = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens_col(F.col(text_col))))
         .alias("w"))
    sizes = w.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = w.alias("a"), w.alias("b")
    inter = (a.join(b, "w")
             .filter(F.col("a.doc_id") < F.col("b.doc_id"))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("n_common")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b",
                    F.round(F.col("n_common").cast("double")
                            / F.greatest("sz_a", "sz_b"), 4)
                     .alias("similarity")))


def word_overlap_pairs_sql(table: str = "documents",
                           where: str = "TRUE") -> str:
    return f"""
    WITH w AS (
      SELECT DISTINCT doc_id, unnest({tokens_sql('text')}) AS w
      FROM {table} WHERE {where}),
    sizes AS (SELECT doc_id, count(*) AS sz FROM w GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM w a JOIN w b USING (w) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE) / greatest(sa.sz, sb.sz), 4)
             AS similarity
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    """


# ---------------------------------------------------------------------------
# near-dup cluster resolution (connected components over the pair graph)
# ---------------------------------------------------------------------------

def dup_clusters(pairs: DataFrame, max_iters: int = 200) -> DataFrame:
    """Resolve candidate PAIRS into duplicate CLUSTERS: connected
    components over the undirected pair graph, labels = the component's
    minimum doc_id (the canonical representative a dedup pipeline keeps).

    The distributed iterative-algorithm shape (like IVF training): each
    round (1) takes the per-node min over neighbor labels and (2)
    POINTER-JUMPS — replaces each label by its label's label — so
    convergence is O(log component-diameter) rounds, not O(diameter):
    a 1000-long transitive near-dup chain resolves in ~11 rounds.
    Driver state per round is ONE changed-count, and each round is ONE
    materializing job: the previous label rides along in the update
    lineage (``prev_lab``) so convergence is read from an aggregate over
    the materialized working set instead of a second old-vs-new join.
    Each round's working set is ``localCheckpoint``-ed — the pointer
    jump is a self-join, so without lineage truncation the logical plan
    DOUBLES every round and the driver OOMs planning round ~8; dropped
    working sets are reclaimed by Spark's ContextCleaner.  Iterates
    until a fixed point;
    ``max_iters`` is a loud safety valve (RuntimeError), never a silent
    truncation — a pathological component must get correct labels or
    fail.  Returns (doc_id, cluster_id, n_members) for every node in
    the pair graph.
    """
    # symmetric edge list, hash-partitioned ONCE on the per-round join
    # key and persisted in that layout: every round's neighbor-min join
    # then reuses the cached partitioning instead of re-exchanging the
    # (biggest) edge side.  No distinct(): min-aggregation is duplicate-
    # edge insensitive, so the dedup shuffle would be pure cost.
    spark = pairs.sparkSession
    n_part = spark.sparkContext.defaultParallelism
    # symmetric edges via ONE explode instead of a two-branch union: the
    # union evaluated the (expensive) pairs subtree twice — the persist
    # below only caches the RESULT, not the two computations feeding it
    edges = (pairs.select(F.explode(F.array(
                 F.struct(F.col("doc_a").alias("a"),
                          F.col("doc_b").alias("b")),
                 F.struct(F.col("doc_b").alias("a"),
                          F.col("doc_a").alias("b")))).alias("e"))
             .select(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
             .repartition(n_part, "a").persist())
    # initialization already applies the FIRST propagation round without
    # a join: every node starts at min(itself, its direct neighbors) —
    # one groupBy over the symmetric edge list.  Shallow components
    # (pairs/cliques, the common dup shape) then converge in a single
    # verification round.
    labels = (edges.groupBy(F.col("a").alias("doc_id"))
              .agg(F.min("b").alias("nb"))
              .select("doc_id", F.least("doc_id", "nb").alias("lab"))
              .localCheckpoint(eager=True))
    converged = False
    for it in range(max_iters):
        # neighbor minimum AND previous label in ONE wide shuffle: union
        # the neighbor-label stream (edges join: only the small labels
        # side exchanges — edges ride their cached partitioning) with a
        # tagged self-label stream, then a single groupBy(doc_id) reads
        # prev_lab off the self row and the new label as the overall min.
        # This replaces the former groupBy-then-left-join-back shape
        # (2 shuffles + 3 stage barriers per round) with 1 shuffle +
        # 2 barriers — at cluster scale the per-round exchange count is
        # the cost of an iterative operator.  Every node appears in the
        # self stream, so the left-join semantics (isolated-label nodes
        # keep their label) are preserved and prev_lab is never null.
        nbr = (edges.join(labels, edges.a == labels.doc_id)
               .select(F.col("b").alias("doc_id"), "lab",
                       F.lit(False).alias("is_self")))
        slf = labels.select("doc_id", "lab", F.lit(True).alias("is_self"))
        mid = (slf.unionByName(nbr)
               .groupBy("doc_id")
               .agg(F.min(F.when(F.col("is_self"), F.col("lab")))
                     .alias("prev_lab"),
                    F.min("lab").alias("mlab")))
        if it < JUMP_FROM_ROUND:
            # dup graphs are overwhelmingly shallow (cliques / short
            # chains): the init already propagated one hop, so the first
            # rounds usually just finish propagation or CONFIRM
            # convergence — skip the pointer-jump self-join and its
            # extra shuffle there.  Round-6 sweep (jump from round 1 /
            # 3 / never, 10x bench scale): a 3-round shallow graph reads
            # 8.2 / 6.6 / 6.6 s, a diameter-100 chain graph 8.8 s
            # (7 rounds) / 6.5 s (9 rounds) / 30 s (99 rounds) — the
            # jump-free rounds are cheaper than the log-rounds they add,
            # on BOTH regimes, but jumping must kick in for deep chains
            # (jump-never is O(diameter)).  The fixed point is invariant
            # to the jump schedule (labels only accelerate toward the
            # component minimum), pinned by the deep-chain unit test.
            new = mid.select("doc_id", "prev_lab",
                             F.col("mlab").alias("lab"))
        else:
            # pointer jump: labels are always node ids with lab(u) <= u,
            # so following one more hop (label of my label) is still
            # inside the component and monotonically non-increasing —
            # halves the remaining distance-to-root every round, making
            # deep chains O(log diameter) from round 1 on.  (A two-hop
            # variant was tried in round 6 and reverted: the second
            # self-join re-evaluates the un-materialized `mid` subtree,
            # costing more than the saved rounds.)
            hop = mid.select(F.col("doc_id").alias("h_id"),
                             F.col("mlab").alias("hlab"))
            new = (mid.join(hop, mid.mlab == hop.h_id, "left")
                   .select("doc_id", "prev_lab",
                           F.coalesce("hlab", "mlab").alias("lab")))
        # ONE job per round: the changed-count rides the checkpoint
        # action itself as an observed metric (df.observe), so there is
        # no second scan — the same accumulator machinery the extract
        # job's metrics sink uses.
        obs = Observation()
        new = (new.observe(obs, F.sum(
            (F.col("lab") != F.col("prev_lab")).cast("long"))
            .alias("changed"))
            .localCheckpoint(eager=True))
        changed = obs.get["changed"] or 0
        labels = new
        if changed == 0:
            converged = True
            break
    if not converged:
        edges.unpersist()
        raise RuntimeError(
            f"dup_clusters: no fixed point after {max_iters} rounds — "
            "component diameter exceeds the safety cap; raise max_iters")
    sizes = labels.groupBy("lab").agg(F.count("*").alias("n_members"))
    out = (labels.join(sizes, "lab")
           .select("doc_id", F.col("lab").alias("cluster_id"), "n_members"))
    edges.unpersist()
    return out


def dup_clusters_sql(pairs_sql: str) -> str:
    """DuckDB oracle: transitive closure by recursive CTE, min per node."""
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges(a, b) AS (
      SELECT doc_a, doc_b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
    reach(src, dst) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
    lbl AS (SELECT src AS doc_id, min(dst) AS cluster_id
            FROM reach GROUP BY src)
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS n_members
    FROM lbl
    """
