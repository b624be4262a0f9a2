"""Deduplication operators for large-scale training-data pipelines.

Beyond-reference surface (BASELINE.json north star). Five families, each a
composition of built-in DataFrame ops — no Python in the hot path:

- exact:         normalize → hash → groupBy (one shuffle on the hash).
- n-gram Jaccard: shingle → inverted-index self-join → pair counts. The
                  shingle join is the classic candidate generator; at 100 TB
                  you'd first drop ultra-frequent shingles (stop-shingles) to
                  bound the join's skew — expressed here as a max-df filter.
- MinHash + LSH: K=8 md5 min-hashes → 4 bands → band-bucket join. Only
                  bucket collisions pair up, so the join is near-linear; the
                  band hash is the shuffle key.
- SimHash:       32-bit sign-of-weighted-sum signature per doc.
- embedding:     cosine near-dup pairs over the embeddings table — an exact
                  all-pairs variant (quadratic by contract) and a sign-LSH
                  bucketed variant whose recall is measured against it (see
                  similarity.py for the ANN path).

The test corpus has no duplicates, so the dedup queries run over an
AUGMENTED corpus: the 500 documents plus case/whitespace-mutated copies
(exact dups after normalization, doc_id+1_000_000) and token-appended
copies (near dups, doc_id+2_000_000) — planted deterministically in both
engines so every operator has true positives to find.

Determinism: md5 is byte-identical across engines; all scores are integer
ratios (single division) — no float accumulation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pg2parquet_spark.operators.similarity import EMB_DIM, dot_sql
from pg2parquet_spark.operators.text import (
    normalize_text,
    token_shingles,
    tokens,
    word_shingles,
)
from pg2parquet_spark.registry import register
from pg2parquet_spark.tables import table


def _persistent_rdd_ids(sc) -> set[int]:
    """RDD ids currently holding executor-storage blocks (JVM-side view)."""
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


def _unpersist_rdd_ids(sc, ids: set[int]) -> None:
    """Free storage blocks of specific RDD ids (for localCheckpoint blocks,
    which ``Dataset.unpersist`` cannot reach — they live outside the SQL
    CacheManager)."""
    m = sc._jsc.getPersistentRDDs()
    for k in m.keySet().toArray():
        if int(k) in ids:
            m.get(k).unpersist()

# ------------------------------------------------------- augmented corpus --

AUG_SQL = """
aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, upper(text) || '  ' FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 2000000, text || ' zz0 zz1 zz2 zz3 zz4' FROM documents WHERE doc_id % 7 = 0
)
"""

NORMED_SQL = r"""
normed AS (
  SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm FROM aug
)
"""

SHINGLED_SQL = """
shingled AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
  FROM (SELECT doc_id, string_split(norm, ' ') AS toks FROM normed)
)
"""

# Stop-shingle max-df pre-filter: a shingle occurring in more than 1/N of all
# documents is boilerplate (headers, license blurbs, planted suffixes) — it
# generates quadratic join fan-out in the inverted index and drags minhash
# signatures toward the corpus mode. Drop it from every shingle set BEFORE
# candidate generation. Integer comparison (df·N > total) keeps both engines
# bit-identical; the stop list is bounded (only ultra-frequent shingles) so
# it broadcasts.
_STOP_DF_N = 10  # stop when df > total_docs / 10

STOPF_SQL = f"""
sdf AS (
  SELECT s, COUNT(*) AS df
  FROM (SELECT doc_id, unnest(sh) AS s FROM shingled)
  GROUP BY s
),
tot AS (SELECT COUNT(*) AS total FROM shingled),
stoplist AS (
  SELECT COALESCE(list(s), []) AS stops
  FROM sdf CROSS JOIN tot WHERE df * {_STOP_DF_N} > total
),
shingled_f AS (
  SELECT sh0.doc_id, list_filter(sh0.sh, x -> NOT list_contains(st.stops, x)) AS sh
  FROM shingled sh0 CROSS JOIN stoplist st
)
"""


def augmented_documents(
    spark: SparkSession, sf_dir: str, widen: bool = True
) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    exact_copies = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  ")).alias("text"),
    )
    near_copies = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz0 zz1 zz2 zz3 zz4")).alias("text"),
    )
    # the documents table is one small parquet file → 1-3 input splits; when
    # the downstream work is CPU-heavy per row (shingling, minhash), spread
    # it across all cores. ONE exchange after the union (not one per branch —
    # union needs no co-partitioning); spread_scan makes the "dropped at
    # 100 TB" claim mechanical (r12): once the union's scans already yield
    # >= cores splits, no exchange is added at all. Cheap-per-row callers
    # (exact dedup: one md5 each) pass widen=False and skip the shuffle.
    from pg2parquet_spark.tables import spread_scan

    out = docs.unionAll(exact_copies).unionAll(near_copies)
    return spread_scan(out) if widen else out


# Stop list memo, keyed by corpus dir. The stop list is corpus-level
# metadata ("computed once per corpus snapshot, reused by every dedup job"
# is exactly the 100 TB deployment shape — there it is a materialized df
# table); recomputing its explode+groupBy pass per query made the stop job
# the dominant cost of every shingle-based dedup query in one session.
# Bounded by construction (≤ N·max_doc_len entries per corpus), so the memo
# can never grow past a few such lists. Corpus dirs here are immutable;
# a production snapshot id would key the memo instead.
_STOP_MEMO: dict[str, list[str]] = {}


def stop_filtered_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh) with max-df stop-shingles removed — the shared front end
    of the Jaccard and MinHash paths (mirrors the STOPF_SQL oracle chain).

    One extra pass (memoized per corpus dir) computes document frequency per
    shingle (explode + bounded groupBy); the resulting stop list is tiny by
    construction and ships as a literal, so the filter itself is map-side.
    """
    aug = augmented_documents(spark, sf_dir)
    shingled = aug.select(
        "doc_id", F.array_distinct(word_shingles(F.col("text"), 3)).alias("sh")
    )
    if sf_dir not in _STOP_MEMO:
        # persist only for the duration of the stop-list pass: the df agg and
        # the total-count subtree both consume `shingled`
        cached = shingled.persist()
        sdf = (
            cached.select(F.explode("sh").alias("s"))
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        tot = cached.agg(F.count(F.lit(1)).alias("total")).withColumn("j1", F.lit(1))
        # The stop list collects to the driver — BOUNDED state, like the
        # k-means centroids: a shingle needs df > total/N, and each document
        # carries at most max_doc_len shingles, so at most N·max_doc_len
        # shingles can ever qualify, independent of corpus size. Attaching it
        # as a literal array keeps the filter a pure map (no join node at
        # all; a 1-row crossJoin would plan as BroadcastNestedLoopJoin,
        # which the plan tests ban).
        stop_rows = (
            sdf.withColumn("j1", F.lit(1))
            .join(F.broadcast(tot), "j1")
            .filter(F.col("df") * _STOP_DF_N > F.col("total"))
            .select("s")
            .collect()
        )
        cached.unpersist()
        _STOP_MEMO[sf_dir] = sorted(r.s for r in stop_rows)
    stop_vals = _STOP_MEMO[sf_dir]
    stops = (
        F.array(*[F.lit(s) for s in stop_vals])
        if stop_vals
        else F.array().cast("array<string>")
    )
    return shingled.select("doc_id", F.array_except("sh", stops).alias("sh"))


# Per-shingle POSTING-LIST candidacy cap — the _BUCKET_CAP discipline
# applied to the inverted index (r9). The relative stop filter (df·N >
# total) removes corpus-mode boilerplate, but its cutoff RISES with the
# corpus: a shingle sitting just under total/N generates ~df² candidate
# pairs, and df at the cutoff grows linearly with corpus size — measured as
# e(upper) = 1.19 for dedup_ngram_jaccard over the 50k→500k-doc decade
# (SCALING_r09_docdecade3.md) while the capped minhash path held e = 0.64
# on the same corpus. The fix is the same honest contract minhash and the
# embedding tables already carry: within each shingle's posting list only
# the first _POSTING_CAP members by doc_id emit or receive pairs (≤
# C(64,2) = 2016 pairs per shingle — linear total), and
# dedup_shingle_posting_audit reports exactly how many posting entries the
# cap excluded, so a capped run can never silently publish its pair list
# as complete.
_POSTING_CAP = 64

# posted CTE shared by the jaccard/containment oracles: the exploded
# inverted index with the per-shingle candidacy window (mirrors
# _shingle_pair_counts; (s, doc_id) is unique — shingle sets are distinct —
# so the ROW_NUMBER is deterministic).
POSTED_SQL = f"""
posted AS (
  SELECT doc_id, n, s FROM (
    SELECT doc_id, n, s,
           ROW_NUMBER() OVER (PARTITION BY s ORDER BY doc_id) AS rn
    FROM (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM shingled_f)
  ) WHERE rn <= {_POSTING_CAP}
)
"""


def _shingle_pair_counts(
    spark: SparkSession, sf_dir: str, shingled: DataFrame | None = None
) -> DataFrame:
    """(doc_a, doc_b, na, nb, common): distinct-shingle intersection counts
    for every document pair sharing ≥1 stop-filtered shingle within the
    per-shingle posting window — the shared candidate front end of
    dedup_ngram_jaccard (symmetric Jaccard) and dedup_containment_ngrams
    (asymmetric containment), kept in ONE place so the two decision rules
    can never drift apart on candidate semantics.

    Set sizes ride the explode (functionally dependent on doc_id, so adding
    them to the groupBy keys changes nothing) — no post-agg size-lookup
    joins. The _POSTING_CAP window (see above) bounds per-shingle pair
    fan-out; its ROW_NUMBER partitions by the same key the join shuffles
    on, so the window adds no extra exchange on the probe side. The
    self-join-vs-grouped-emission tradeoff is measured and documented at
    the Jaccard call site."""
    from pyspark.sql import Window as W

    sh = stop_filtered_shingles(spark, sf_dir) if shingled is None else shingled
    exploded = sh.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("s")
    )
    posted = (
        exploded.withColumn(
            "rn", F.row_number().over(W.partitionBy("s").orderBy("doc_id"))
        )
        .filter(F.col("rn") <= _POSTING_CAP)
        .drop("rn")
    )
    a = posted.alias("a")
    # SHUFFLE_HASH, not sort-merge (r9, measured at the 500k-doc synth
    # point: 45.6 s -> 38.8 s for the candidate chain, interleaved reps):
    # SMJ sorts both sides of the self-join on the shingle STRING — the
    # execution-layer cost the third-decade probe decomposed (e=1.18 with
    # exactly-linear candidate rows). The hash build side is bounded and
    # skew-proof by construction: per join key the posting window holds
    # <= _POSTING_CAP rows, and per partition the build is |index|/P,
    # which AQE re-sizes with the data. An xxhash64(s) leading key was
    # also measured (int sort prefix) and helps SMJ less than SHJ helps
    # (-7.5% vs -15%).
    b = posted.alias("b").hint("SHUFFLE_HASH")
    return (
        a.join(
            b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id"))
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )


# ------------------------------------------------------------------ exact --
@register(
    "dedup_exact",
    oracle=f"""
WITH {AUG_SQL.strip()}, {NORMED_SQL.strip()}
SELECT md5(norm) AS content_hash,
       COUNT(*) AS n_copies,
       MIN(doc_id) AS representative
FROM normed
GROUP BY md5(norm)
HAVING COUNT(*) > 1
""",
    doc="Exact dedup: normalize → md5 → hash-groupBy; representative = min doc_id. "
    "One shuffle on the content hash; map-side partial agg bounds it.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = augmented_documents(spark, sf_dir, widen=False)
    h = F.md5(normalize_text(F.col("text")))
    return (
        aug.groupBy(h.alias("content_hash"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("representative"))
        .filter(F.col("n_copies") > 1)
    )


# --------------------------------------------------------- n-gram Jaccard --
@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {AUG_SQL.strip()}, {NORMED_SQL.strip()}, {SHINGLED_SQL.strip()}, {STOPF_SQL.strip()},
{POSTED_SQL.strip()},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb, COUNT(*) AS common
  FROM posted a JOIN posted b
    ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, common,
       na + nb - common AS union_cnt,
       CAST(common AS DOUBLE) / (na + nb - common) AS jaccard
FROM pairs
WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.6
""",
    doc="Near-dup candidates via 3-gram shingle inverted-index join; Jaccard from distinct-"
    "shingle counts (single integer division). The max-df stop-shingle pre-filter "
    "(stop_filtered_shingles) runs first — boilerplate shingles are what skew this "
    "join at scale — and the _POSTING_CAP candidacy window bounds per-shingle pair "
    "fan-out (dropped mass reported by dedup_shingle_posting_audit; r9, after the "
    "third-decade probe measured the uncapped index at e=1.19).",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jaccard_pair_rows(spark, sf_dir)


def _jaccard_pair_rows(
    spark: SparkSession, sf_dir: str, shingled: DataFrame | None = None
) -> DataFrame:
    # The shingle-set SIZE rides along through the explode (it is functionally
    # dependent on doc_id, so adding it to the groupBy keys changes nothing),
    # which removes the two post-agg size-lookup joins of the naive shape.
    # Shape choice, MEASURED: the self-join computes the shingle pipeline
    # twice (exchange reuse does not dedupe the two sides — same finding as
    # the minhash band stage), but the group-by-shingle + collect_list pair
    # emission alternative benched 8% SLOWER here and is structurally worse
    # for THIS operator at scale: a hot shingle's bucket materializes as one
    # in-memory array (hard 2 GB/element-count cap), while the hash join
    # streams one side and degrades via spill. Minhash keeps the grouped
    # shape because band buckets are near-dup-group-sized; the inverted
    # index keeps the join. A 100 TB run would persist the shingle table to
    # make the double consumption one scan. No executor-storage footprint
    # survives the query (pinned by
    # tests/test_pipeline_ops.py::test_dedup_leaves_no_persistent_rdds).
    pairs = _shingle_pair_counts(spark, sf_dir, shingled=shingled)
    jac = F.col("common").cast("double") / (F.col("na") + F.col("nb") - F.col("common"))
    return pairs.select(
        "doc_a",
        "doc_b",
        "common",
        (F.col("na") + F.col("nb") - F.col("common")).alias("union_cnt"),
        jac.alias("jaccard"),
    ).filter(F.col("jaccard") >= 0.6)


@register(
    "dedup_shingle_posting_audit",
    oracle=f"""
WITH {AUG_SQL.strip()}, {NORMED_SQL.strip()}, {SHINGLED_SQL.strip()}, {STOPF_SQL.strip()},
pdf AS (
  SELECT s, COUNT(*) AS df
  FROM (SELECT doc_id, unnest(sh) AS s FROM shingled_f)
  GROUP BY s
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_posting_lists,
       CAST(MAX(df) AS BIGINT) AS max_df,
       CAST(SUM(CASE WHEN df > {_POSTING_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap,
       CAST(SUM(CASE WHEN df > {_POSTING_CAP} THEN df - {_POSTING_CAP} ELSE 0 END) AS BIGINT) AS n_dropped_entries
FROM pdf WHERE df >= 2
""",
    doc=f"Observability for the inverted-index _POSTING_CAP={_POSTING_CAP} "
    "candidacy window (dedup_ngram_jaccard / dedup_containment_ngrams) — "
    "the dedup_minhash_bucket_audit contract applied to shingle posting "
    "lists: how many lists can pair at all (df >= 2), the hottest list, "
    "and exactly how many posting entries the cap excluded from pair "
    "candidacy. Zero n_dropped_entries means the pair output is COMPLETE "
    "over the stop-filtered shingle sets; a large value means boilerplate "
    "slipped past the relative stop filter (its cutoff rises with the "
    "corpus — the r9 third-decade probe measured the uncapped index at "
    "e=1.19 for exactly that reason) and the normalization needs work, "
    "not a bigger cap. Plan: the shared shingle front end, one (s) count "
    "shuffle, one bounded fold — no pairs, no doc_id shuffle.",
)
def dedup_shingle_posting_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = stop_filtered_shingles(spark, sf_dir)
    pdf = (
        sh.select(F.explode("sh").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    over = F.col("df") > _POSTING_CAP
    return pdf.filter(F.col("df") >= 2).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_posting_lists"),
        F.max("df").cast("bigint").alias("max_df"),
        F.sum(F.when(over, 1).otherwise(0)).cast("bigint").alias("n_over_cap"),
        F.sum(F.when(over, F.col("df") - _POSTING_CAP).otherwise(0))
        .cast("bigint")
        .alias("n_dropped_entries"),
    )


# ----------------------------------------------------------- MinHash + LSH --
_K = 8        # minhash signature length
_BANDS = 4    # 2 hashes per band
# Per-(band, bucket) member cap BEFORE pair emission. Without it a crawl-
# scale boilerplate template (100k near-identical pages sharing one band
# bucket) materializes as ONE collect_list array in one task (2 GB array
# cap) and 5e9 exploded pairs from a single row. The cap keeps the first
# _BUCKET_CAP members (by doc_id — deterministic) per bucket: within-cap
# members still pair, over-cap members keep their chances in the OTHER
# bands, and dedup_minhash_bucket_audit reports exactly what was dropped.
# Max fan-out per bucket row is C(64,2) = 2016 pairs — bounded by design.
_BUCKET_CAP = 64
# One md5 per shingle (the whole map-side CPU budget at 100 TB is this call):
# the 128-bit digest is carved into four independent 32-bit int lanes; lanes
# 4..7 are LCG rehashes of lanes 0..3 — the classic min-wise "universal
# hashing over one base hash" trick (h_k(x) = a·x + b mod 2^32), expressible
# identically in both engines' integer arithmetic.
_LCG_A = 69069          # Marsaglia multiplier; 2^32·69069 < 2^63, no overflow
_LCG_MOD = 4294967296   # 2^32


def _lane_sql(k: int) -> str:
    """k-th 32-bit signature lane of one md5 digest (DuckDB syntax)."""
    base = f"CAST('0x' || substr(md5(s), {1 + 8 * (k % 4)}, 8) AS BIGINT)"
    if k < 4:
        return base
    return f"(({base}) * {_LCG_A} + {k}) % {_LCG_MOD}"


def _sig_sql() -> str:
    """sigs CTE shared by the LSH oracles: ONE md5 call per shingle, eight
    integer lanes derived from the single digest."""
    lanes = ", ".join(
        f"list_min(list_transform(sh, s -> {_lane_sql(k)})) AS h{k}"
        for k in range(_K)
    )
    return f"sigs AS (\n  SELECT doc_id, {lanes}\n  FROM shingled_f\n)"


def _bands_sql() -> str:
    """bands CTEs shared by the LSH oracles: banded signatures, then the
    per-bucket member cap (mirrors _lsh_band_collisions — first
    ``_BUCKET_CAP`` members by doc_id per (band_idx, bh))."""
    union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(CAST(h{2 * b} AS VARCHAR) || '|' || CAST(h{2 * b + 1} AS VARCHAR)) AS bh "
        f"FROM sigs"
        for b in range(_BANDS)
    )
    return f"""bands_all AS (
  {union}
),
bands AS (
  SELECT doc_id, band_idx, bh FROM (
    SELECT doc_id, band_idx, bh,
           ROW_NUMBER() OVER (PARTITION BY band_idx, bh ORDER BY doc_id) AS rn
    FROM bands_all
  ) WHERE rn <= {_BUCKET_CAP}
)"""


def _lsh_bands(
    spark: SparkSession, sf_dir: str, shingled: DataFrame | None = None
) -> DataFrame:
    """Shared LSH front end: banded minhash signatures, one row per
    (doc, band) with the full 8-int signature riding along (columns doc_id,
    h0..h7, band_idx, bh). Everything here is map-side — zero shuffles.

    Carrying the 8 signature ints through the band stage means the verify
    step downstream is a pure projection — the naive shape re-joins a
    persisted signature table twice. Candidate generation downstream is
    group-by-bucket, not a self-join: shuffle the banded rows ONCE on
    (band_idx, band_hash), collect each bucket's members, and emit the i<j
    pairs with an in-bucket array expression. A self-join of two identical
    signature subtrees looks equivalent on paper but in practice plans as
    two full signature pipelines (exchange reuse does not reliably kick in
    across the join's two sides), i.e. every shingle is md5-hashed twice
    and the corpus is shuffled twice. The grouped shape computes signatures
    once, shuffles once, and needs no persist. Pair fan-out is quadratic in
    BUCKET size — bounded two ways: the max-df stop filter removes the
    boilerplate shingles that create mega-buckets, and the _BUCKET_CAP
    member cap bounds whatever slips through. At 100 TB the signatures
    would live in a materialized table; here the whole front end stays
    map-side until the single (band_idx, band_hash) shuffle.
    """
    if shingled is None:
        shingled = stop_filtered_shingles(spark, sf_dir)
    # signature = per-document MAP work: array_min(transform(...)) keeps it in
    # the scan stage with ZERO shuffles (the explode+groupBy alternative
    # shuffles every (doc, shingle) row just to re-group by doc). md5 is the
    # hot path — hash each shingle ONCE, carve the digest into four 32-bit
    # int lanes, derive lanes 4..7 by an LCG mix of lanes 0..3 (mirrors
    # _lane_sql exactly; halves the per-shingle hash CPU vs two seeded md5s).
    # parse each digest's four 32-bit lanes ONCE into a struct; the eight
    # array_min passes then read parsed ints (lanes 4..7 apply their LCG to
    # the parsed base) instead of re-running conv(substring(...)) — 4 hex
    # parses per shingle, not 8 (conv is the next-hottest expression after
    # md5 itself)
    # Expression trees here are built as selectExpr SQL strings, not nested
    # F.transform lambdas: each string is ONE gateway round trip parsed
    # JVM-side, where the lambda-based construction of the same tree costs
    # hundreds of py4j calls (~0.4 s of driver time per plan build — real
    # latency for interactive/benchmarked use, since the plan is rebuilt per
    # invocation). The physical plan is identical either way.
    # two chained transforms so md5 runs ONCE per shingle: higher-order
    # functions evaluate interpreted (no codegen subexpression elimination),
    # so inlining md5(s) under each of the four substrings would hash every
    # shingle four times
    parse4 = (
        "named_struct("
        + ", ".join(
            f"'c{j}', cast(conv(substring(d, {1 + 8 * j}, 8), 16, 10) as bigint)"
            for j in range(4)
        )
        + ")"
    )
    hashed = shingled.selectExpr(
        "doc_id", f"transform(transform(sh, s -> md5(s)), d -> {parse4}) AS m0"
    )

    def lane(k: int) -> str:
        base = f"h.c{k % 4}"
        if k < 4:
            return base
        return f"({base} * {_LCG_A} + {k}) % {_LCG_MOD}"

    sigs = hashed.selectExpr(
        "doc_id",
        *[f"array_min(transform(m0, h -> {lane(k)})) AS h{k}" for k in range(_K)],
    )
    band_arr = (
        "array("
        + ", ".join(
            f"named_struct('band_idx', {b}, 'bh', "
            f"md5(concat(cast(h{2 * b} as string), '|', cast(h{2 * b + 1} as string))))"
            for b in range(_BANDS)
        )
        + ")"
    )
    hcols = [f"h{k}" for k in range(_K)]
    return sigs.selectExpr("doc_id", *hcols, f"explode({band_arr}) AS band").selectExpr(
        "doc_id", *hcols, "band.band_idx AS band_idx", "band.bh AS bh"
    )


def _lsh_band_collisions(
    spark: SparkSession, sf_dir: str, bands: DataFrame | None = None
) -> DataFrame:
    """Band-bucket collision pairs with both documents' signatures in-row.
    ``bands`` lets a composite (pipeline_dedup_scorecard) pass a
    localCheckpointed band frontier shared with the bucket audit, so the
    shingle+md5 signature pipeline runs once per query instead of once per
    consumer (guide §5: persist intra-query reuse; Spark does not CSE
    across plan branches).

    ONE shuffle: bucket members by (band_idx, bh) — the row_number cap and
    the collect_list groupBy share that single hashpartitioning exchange
    (the window's sort satisfies the agg's distribution requirement) — then
    emit every i<j member pair in-bucket. Pairs are orientation-normalized
    by doc_id (a = smaller id) so the output is independent of collect_list
    order. The per-bucket cap (``_BUCKET_CAP``, mirrored in the oracles'
    bands CTE) bounds both the collected array and the pair fan-out of a
    pathological mega-bucket; dropped membership is observable through
    dedup_minhash_bucket_audit.
    """
    from pyspark.sql import Window as W

    if bands is None:
        bands = _lsh_bands(spark, sf_dir)
    hcols = [f"h{k}" for k in range(_K)]
    w = W.partitionBy("band_idx", "bh").orderBy("doc_id")
    capped = (
        bands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _BUCKET_CAP)
        .drop("rn")
    )
    buckets = (
        capped.groupBy("band_idx", "bh")
        .agg(F.expr(f"collect_list(struct(doc_id, {', '.join(hcols)})) AS m"))
        .filter(F.size("m") > 1)
    )
    pair_expr = (
        "explode(flatten(transform(m, (x, i) -> "
        "transform(slice(m, i + 2, size(m)), y -> "
        "named_struct('a', if(x.doc_id < y.doc_id, x, y), "
        "'b', if(x.doc_id < y.doc_id, y, x)))))) AS p"
    )
    return buckets.selectExpr(pair_expr).selectExpr(
        "p.a.doc_id AS doc_a",
        "p.b.doc_id AS doc_b",
        *[f"p.a.h{k} AS ha{k}" for k in range(_K)],
        *[f"p.b.h{k} AS hb{k}" for k in range(_K)],
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
WITH {AUG_SQL.strip()}, {NORMED_SQL.strip()}, {SHINGLED_SQL.strip()}, {STOPF_SQL.strip()},
{_sig_sql()},
{_bands_sql()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST({" + ".join(f"CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END" for k in range(_K))} AS BIGINT) AS matching_hashes,
       CAST({" + ".join(f"CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END" for k in range(_K))} AS DOUBLE) / {_K} AS est_jaccard
FROM cand
JOIN sigs sa ON sa.doc_id = doc_a
JOIN sigs sb ON sb.doc_id = doc_b
""",
    doc=f"MinHash({_K}) + LSH({_BANDS} bands): shingle→min-md5 signatures→band-hash bucket "
    "join. Only bucket collisions are paired — the candidate join is near-linear and the "
    "band hash is the shuffle key (the 100 TB-safe shape).",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_pair_rows(spark, sf_dir)


def _minhash_pair_rows(
    spark: SparkSession, sf_dir: str, bands: DataFrame | None = None
) -> DataFrame:
    pairs = _lsh_band_collisions(spark, sf_dir, bands=bands)
    matches = None
    for k in range(_K):
        term = F.when(F.col(f"ha{k}") == F.col(f"hb{k}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    # a pair colliding in several bands yields bit-identical rows (the match
    # count depends only on the two signatures) → distinct collapses them,
    # matching the oracle's DISTINCT-candidates-then-verify semantics
    return pairs.select(
        "doc_a",
        "doc_b",
        matches.cast("bigint").alias("matching_hashes"),
        (matches.cast("double") / _K).alias("est_jaccard"),
    ).distinct()


@register(
    "dedup_minhash_bucket_audit",
    oracle=f"""
WITH {AUG_SQL.strip()}, {NORMED_SQL.strip()}, {SHINGLED_SQL.strip()}, {STOPF_SQL.strip()},
{_sig_sql()},
{_bands_sql()},
bsz AS (
  SELECT band_idx, bh, COUNT(*) AS sz FROM bands_all GROUP BY band_idx, bh
)
SELECT CAST(band_idx AS BIGINT) AS band_idx,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(sz) AS BIGINT) AS max_bucket,
       CAST(SUM(CASE WHEN sz > {_BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_oversized,
       CAST(SUM(CASE WHEN sz > {_BUCKET_CAP} THEN sz - {_BUCKET_CAP} ELSE 0 END) AS BIGINT) AS n_dropped_members
FROM bsz WHERE sz >= 2
GROUP BY band_idx
""",
    doc=f"Observability for the MinHash-LSH bucket cap: per band, how many "
    f"colliding buckets exist, the largest bucket, and exactly how many "
    f"members the _BUCKET_CAP={_BUCKET_CAP} member cap would drop from "
    "pair candidacy — the audit a production dedup run checks before "
    "trusting capped output (a high n_dropped_members means boilerplate "
    "slipped past the stop filter and the shingle normalization needs "
    "work, not a bigger cap). Same map-side band front end as "
    "dedup_minhash_lsh, one (band_idx, bh) count shuffle, then a "
    "per-band fold over the tiny bucket-size table.",
)
def dedup_minhash_bucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bucket_audit_rows(_lsh_bands(spark, sf_dir))


def _bucket_audit_rows(bands: DataFrame) -> DataFrame:
    """Audit tail over (possibly shared/checkpointed) UNCAPPED band rows."""
    bsz = (
        bands.select("band_idx", "bh")
        .groupBy("band_idx", "bh")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    over = F.col("sz") > _BUCKET_CAP
    return (
        bsz.filter(F.col("sz") >= 2)
        .groupBy(F.col("band_idx").cast("bigint").alias("band_idx"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.max("sz").cast("bigint").alias("max_bucket"),
            F.sum(F.when(over, 1).otherwise(0)).cast("bigint").alias("n_oversized"),
            F.sum(F.when(over, F.col("sz") - _BUCKET_CAP).otherwise(0))
            .cast("bigint")
            .alias("n_dropped_members"),
        )
    )


# ---------------------------------------------------------------- SimHash --
_SIM_BITS = 32


def _simhash_oracle() -> str:
    cnts = []
    bit_terms = []
    val_terms = []
    for j in range(_SIM_BITS):
        pos = 1 + j // 4
        shift = 3 - j % 4
        cnts.append(
            f"len(list_filter(md5s, h -> ((strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1) >> {shift}) & 1 = 1)) AS c{j}"
        )
        bit_terms.append(f"CASE WHEN 2 * c{j} > n THEN '1' ELSE '0' END")
        val_terms.append(f"CAST(CASE WHEN 2 * c{j} > n THEN 1 ELSE 0 END AS BIGINT) * {1 << (_SIM_BITS - 1 - j)}")
    return f"""
WITH {AUG_SQL.strip()}, {NORMED_SQL.strip()},
hashed AS (
  SELECT doc_id,
         list_transform(string_split(norm, ' '), t -> md5(t)) AS md5s,
         len(string_split(norm, ' ')) AS n
  FROM normed
),
cnt AS (
  SELECT doc_id, n, {", ".join(cnts)} FROM hashed
)
SELECT doc_id,
       {" || ".join(bit_terms)} AS sig_bits,
       CAST({" + ".join(val_terms)} AS BIGINT) AS sig_value
FROM cnt
"""


@register(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    doc=f"SimHash({_SIM_BITS}-bit): per-token md5 bits, majority vote per bit position "
    "(2·hits > n). Pure expressions over the token array — zero shuffles; near-dup "
    "pairing then bands the signature halves (see tests).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = augmented_documents(spark, sf_dir)
    norm = normalize_text(F.col("text"))
    toks = F.split(norm, " ")
    md5s = F.transform(toks, lambda t: F.md5(t))
    n = F.size(toks)
    base = aug.select("doc_id", md5s.alias("md5s"), n.alias("n"))

    def bit_is_set(pos: int, shift: int):
        # single-arg lambda factory: F.filter only accepts 1- or 2-arg callables
        def pred(h: Column) -> Column:
            hexval = F.position(F.substring(h, pos, 1), F.lit("0123456789abcdef")) - 1
            return F.shiftright(hexval, shift).bitwiseAND(F.lit(1)) == 1

        return pred

    val_expr = None
    bits_concat = []
    for j in range(_SIM_BITS):
        pos = 1 + j // 4
        shift = 3 - j % 4
        cnt = F.size(F.filter(F.col("md5s"), bit_is_set(pos, shift)))
        bit = F.when(2 * cnt > F.col("n"), 1).otherwise(0)
        bits_concat.append(F.when(2 * cnt > F.col("n"), F.lit("1")).otherwise(F.lit("0")))
        term = bit.cast("bigint") * (1 << (_SIM_BITS - 1 - j))
        val_expr = term if val_expr is None else val_expr + term
    return base.select(
        "doc_id",
        F.concat(*bits_concat).alias("sig_bits"),
        val_expr.cast("bigint").alias("sig_value"),
    )


# ------------------------------------------------- embedding cosine pairs --
# Independent sign-LSH hash tables for candidate generation: disjoint
# deterministic hyperplane sets (plane ids shifted per table), MULTI-PROBE:
# each table also probes the 4 buckets at Hamming distance 1 from a vector's
# own bucket (one sign bit flipped), catching pairs that straddle a single
# hyperplane. Per-plane agreement p = 1 - theta/pi; a pair collides in a
# table iff their 4-bit keys differ in <= 1 bit: p^4 + 4*p^3*(1-p) ~= 0.53
# at the cos 0.4 decision boundary, so 4 tables predict ~1-(1-0.53)^4 ~= 0.95
# for ideal random planes; with these deterministic integer planes the
# MEASURED recall is 0.88-0.90 (vs ~0.48 single-probe with the r4
# plane family) —
# tests/test_pipeline_ops.py::test_embedding_lsh_recall. Probing multiplies
# EMISSION rows (5x per table, r13 grouped scorer), not stored signatures,
# tables, or — crucially — candidate PAIRS: each probe emission is one
# bounded row into the grouped kernel, while pair mass (emissions ×
# bucket occupancy) never materializes. At 100 TB that is the cheap
# direction: more planes (smaller buckets, bounded skew) stay affordable
# because recall comes from probes, not from doubling the table count.
#
# PLANE COUNT IS THE SCALE DIAL — now MEASURED, not just asserted: the
# two-decade probe (SCALING_r05.md) shows e(upper) = 1.31 for the fixed-
# plane form, because with a fixed 4-bit bucket key, bucket occupancy grows
# linearly with the corpus and in-bucket candidates quadratically. That is
# why the CORPUS-ADAPTIVE variant below is the registered
# dedup_embedding_cosine_lsh since r7 and this fixed-plane form is demoted
# to dedup_embedding_cosine_lsh_fixed: it exists as the contract baseline
# the adaptive dial is candidate-for-candidate equal to at n <= 750, and as
# the measured counter-example the width dial fixes. Contrast
# dedup_minhash_lsh (e = 0.33): its band hashes live in an unbounded space,
# so granularity scales automatically.
_EMB_LSH_OFFSETS = (0, 100, 200, 300)
_EMB_PROBE_MASKS = (0, 1, 2, 4, 8)  # own bucket + each single-bit flip
_EMB_COS_THRESHOLD = 0.4


def _emb_bucketed_sql() -> str:
    from pg2parquet_spark.operators.similarity import bucket_sql_offset

    cols = ", ".join(
        f"{bucket_sql_offset('embedding', EMB_DIM, False, off)} AS k{t}"
        for t, off in enumerate(_EMB_LSH_OFFSETS)
    )
    return f"SELECT vec_id, embedding, {cols} FROM embeddings"


def _emb_pair_union_sql() -> str:
    joins = []
    for t in range(len(_EMB_LSH_OFFSETS)):
        probes = ", ".join(
            f"k{t}" if m == 0 else f"xor(k{t}, {m})" for m in _EMB_PROBE_MASKS
        )
        joins.append(
            f"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       {dot_sql('a.embedding', 'b.embedding', EMB_DIM, False)} AS cos_sim
  FROM (SELECT vec_id, embedding, unnest([{probes}]) AS pk FROM bk) a
  JOIN bk b ON a.pk = b.k{t} AND a.vec_id < b.vec_id"""
        )
    return "\n  UNION ALL\n".join(joins)


@register(
    "dedup_embedding_cosine_exact",
    oracle=f"""
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       {dot_sql('a.embedding', 'b.embedding', EMB_DIM, False)} AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {dot_sql('a.embedding', 'b.embedding', EMB_DIM, False)} >= {_EMB_COS_THRESHOLD}
""",
    doc="EXACT embedding-cosine near-dup pairs: ALL pairs with cos_sim >= "
    f"{_EMB_COS_THRESHOLD}, no candidate pruning. Quadratic BY CONTRACT — the "
    "plan is a broadcast nested-loop self-join, which is the honest shape for "
    "an exact all-pairs answer and is only runnable when one side fits in "
    "memory (fixture corpora, re-scoring a pre-filtered bucket). At 100 TB "
    "use dedup_embedding_cosine_lsh; this query exists so the exact contract "
    "keeps a name (and so the LSH variant's recall is MEASURED against it — "
    "tests/test_pipeline_ops.py::test_embedding_lsh_recall).",
)
def dedup_embedding_cosine_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _exact_pair_rows(spark, sf_dir)


def _exact_pair_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine arm (a_id, b_id, cos_sim) at the contract
    threshold — the Arrow-kernel form (r13). The r2-r12 shape was a
    broadcast nested-loop self-join whose n²/2 surviving rows each
    evaluated the 64-dim dot through the interpreted zip_with fold: at
    sf0.1 (2000 vectors → 2M pairs) that was 21-28 s of pure per-pair HOF
    overhead (guide §4.2 — the ann_cosine_topk_arrow finding, 10× worse
    here because BOTH sides fan out). Now one side is collected and
    broadcast as a numpy matrix — the same one-side-fits-in-memory
    contract the BNLJ build side already imposed, stated by the operator
    doc since r2 ("quadratic BY CONTRACT... only runnable when one side
    fits in memory") — and a mapInPandas kernel scores each corpus batch
    against it with the dimension-ordered fold (_dot_block), so every
    pair's sum keeps the oracle's left-assoc IEEE order while only
    thresholded survivors ever become rows. Used by
    dedup_embedding_cosine_exact and (ids only) the IVF recall evals'
    truth arm."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from pg2parquet_spark.tables import spread_scan

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rows = emb.collect()
    m_ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    m_mat = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    sc = spark.sparkContext
    b_ids, b_mat = sc.broadcast(m_ids), sc.broadcast(m_mat)
    threshold = _EMB_COS_THRESHOLD

    schema = StructType(
        [
            StructField("a_id", LongType()),
            StructField("b_id", LongType()),
            StructField("cos_sim", DoubleType()),
        ]
    )

    def score(batches):
        mv, M = b_ids.value, b_mat.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            av = pdf["vec_id"].to_numpy(dtype=np.int64)
            acc = _dot_block(np.array(list(pdf["embedding"]), dtype=np.float64), M)
            mask = (acc >= threshold) & (av[:, None] < mv[None, :])
            ai, mi = np.nonzero(mask)
            yield pd.DataFrame(
                {"a_id": av[ai], "b_id": mv[mi], "cos_sim": acc[ai, mi]}
            )

    return spread_scan(emb).mapInPandas(score, schema)


@register(
    "dedup_embedding_cosine_lsh_fixed",
    oracle=f"""
WITH bk AS ({_emb_bucketed_sql()}),
pairs AS (
  {_emb_pair_union_sql()}
)
SELECT DISTINCT a_id, b_id, cos_sim FROM pairs WHERE cos_sim >= {_EMB_COS_THRESHOLD}
""",
    doc="FIXED-PLANE embedding-cosine near-dup pairs — demoted from the "
    "primary dedup_embedding_cosine_lsh name in r7 because its fixed 4-bit "
    "bucket key was measured superlinear over the upper synth decade "
    "(e(upper) = 1.31, SCALING_r05.md): occupancy grows linearly with the "
    "corpus, in-bucket candidates quadratically. Kept registered as the "
    "contract baseline: at n <= 750 the corpus-adaptive primary is "
    "candidate-for-candidate identical to this form (tested), so the two "
    "names pin the dial's floor behavior. Shape (r13 grouped scorer): "
    "multi-table MULTI-PROBE sign-LSH — every vector emits one "
    "embedding-carrying row per (table, probed bucket) (own bucket + the 4 "
    "Hamming-distance-1 flips), ONE (table, bucket) exchange groups them, "
    "and a grouped Arrow kernel exact-scores each bucket's all-rows × "
    "member block → threshold → distinct. Candidate recall vs dedup_embedding_cosine_exact "
    "is MEASURED (test_embedding_lsh_recall): 0.88-0.90 at sf0.001/sf0.01, "
    "zero false positives (the re-score is exact).",
)
def dedup_embedding_cosine_lsh_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg2parquet_spark.operators.similarity import _PLANES, bucket_expr_offset_n

    emb = table(spark, sf_dir, "embeddings")
    # r13 grouped-scorer shape: instead of narrow candidate-id joins whose
    # survivors re-attach two ~540 B embeddings each through shuffle-hash
    # joins (measured r8: 2.6 M candidate rows at sf0.1 → >1 GB of shuffled
    # vector payload), every vector emits one (tbl, probed-key) row per
    # probe mask WITH its embedding — 4 tables × 5 masks = 20 emissions —
    # and one (tbl, pk) exchange feeds the grouped Arrow kernel that scores
    # all-rows × member blocks in numpy. Embedding bytes cross exactly ONE
    # exchange; candidate pairs exist only as matrix entries
    # (_score_blocks; the IVF cell-block shape, r12 VERDICT #1).
    bk = emb.selectExpr(
        "vec_id",
        "embedding",
        *[
            f"{bucket_expr_offset_n('embedding', EMB_DIM, off, _PLANES)} AS k{t}"
            for t, off in enumerate(_EMB_LSH_OFFSETS)
        ],
    )
    ent = F.flatten(
        F.array(
            *[
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("tbl"),
                            (
                                F.col(f"k{t}")
                                if m == 0
                                else F.col(f"k{t}").bitwiseXOR(F.lit(m))
                            ).alias("pk"),
                            F.lit(1 if m == 0 else 0).alias("member"),
                        )
                        for m in _EMB_PROBE_MASKS
                    ]
                )
                for t in range(len(_EMB_LSH_OFFSETS))
            ]
        )
    )
    rows = bk.select("vec_id", "embedding", F.explode(ent).alias("e")).select(
        "vec_id", "embedding", "e.tbl", "e.pk", "e.member"
    )
    # 3-column distinct == (a_id, b_id) distinct: cos_sim is deterministic
    # per pair (fixed-order fold), collapsing multi-table/probe collisions
    # exactly like the oracle's SELECT DISTINCT
    return _score_blocks(rows, ("tbl", "pk"), "lt").distinct()


def _dot_block(A, M):
    """acc[i, j] = A[i]·M[j], folded dimension by dimension: every entry
    accumulates ((0.0 + t1) + t2) + … exactly like the oracle's unrolled
    left-assoc sum, never a BLAS matmul (whose reduction order is
    unspecified) — so equal pairs score bit-identically in every build
    and in DuckDB. The one exact-dot core of the embedding family: the
    block scorer, the exact arm and the IVF centroid ranking."""
    import numpy as np

    acc = np.zeros((A.shape[0], M.shape[0]))
    for d in range(A.shape[1]):
        acc += A[:, d : d + 1] * M[:, d][None, :]
    return acc


def _score_blocks(rows: DataFrame, keys: tuple[str, ...], pairing: str) -> DataFrame:
    """Grouped exact scorer of the embedding family (r11 cell blocks, r13
    LSH buckets): ``rows`` = (vec_id, embedding, member, *keys), one row
    per (vector, group it lands in); ``member`` = 1 when the row is a
    MEMBER of its group (eligible to RECEIVE pairs), 0 when it is a
    prober only. One group per ``keys`` value scores its dot block in
    numpy (_dot_block) and emits only thresholded (a_id, b_id, cos_sim)
    survivors — candidate pairs exist only as matrix entries, never as
    rows, so shuffle and Arrow mass are the emission rows, bounded by
    probes × candidacy caps and independent of the pair mass the groups
    hold. The caller passes the keys its last exchange already
    partitions by, so the scorer reuses that exchange.

    ``pairing``:
    - "lt": every row × member with a.vec_id < b.vec_id — the LSH builds
      (a pair lands in the bucket of the larger id when the smaller
      probes it) and the symmetric IVF arms (every row a member, the
      cell's upper triangle);
    - "directed": prober × member, emitted as (prober, member) — the
      incremental ingest's (new, old);
    - "ne": prober × member with a.vec_id <> b.vec_id, emitted as (min,
      max) — the asymmetric IVF arms, whose vectors can be both home
      (member) and prober of one cell.

    Duplicate scoring across tables/probes/cells is exact-idempotent
    (same fold → bit-identical cos_sim), so the callers' final 3-column
    distinct collapses exactly the duplicates the oracles' SELECT
    DISTINCT does."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    if pairing not in ("lt", "directed", "ne"):
        raise ValueError(f"unknown pairing {pairing!r}")
    schema = StructType(
        [
            StructField("a_id", LongType()),
            StructField("b_id", LongType()),
            StructField("cos_sim", DoubleType()),
        ]
    )
    threshold = _EMB_COS_THRESHOLD
    empty = pd.DataFrame(
        {
            "a_id": np.array([], dtype=np.int64),
            "b_id": np.array([], dtype=np.int64),
            "cos_sim": np.array([], dtype=np.float64),
        }
    )

    def score(pdf):
        member = pdf["member"].to_numpy() == 1
        mm = pdf[member]
        aa = pdf if pairing == "lt" else pdf[~member]
        if len(mm) == 0 or len(aa) == 0:
            return empty
        acc = _dot_block(
            np.array(list(aa["embedding"]), dtype=np.float64),
            np.array(list(mm["embedding"]), dtype=np.float64),
        )
        av = aa["vec_id"].to_numpy(dtype=np.int64)
        mv = mm["vec_id"].to_numpy(dtype=np.int64)
        mask = acc >= threshold
        if pairing == "lt":
            mask &= av[:, None] < mv[None, :]
        elif pairing == "ne":
            mask &= av[:, None] != mv[None, :]
        ai, mi = np.nonzero(mask)
        a, b = av[ai], mv[mi]
        if pairing == "ne":
            a, b = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"a_id": a, "b_id": b, "cos_sim": acc[ai, mi]})

    return rows.groupBy(*keys).applyInPandas(score, schema)


# ----------------------------------- corpus-adaptive embedding LSH planes --
# The two-decade scaling probe (SCALING_r05.md) measured e(upper) = 1.31 for
# the fixed-plane variant: with a FIXED bucket-key width, bucket occupancy
# grows linearly with the corpus and within-bucket candidate pairs
# quadratically. The documented fix is "planes ≈ log2(corpus /
# target_occupancy)" — this variant (the PRIMARY dedup_embedding_cosine_lsh
# since r7) makes that dial REAL and oracle-gated instead of a comment: the
# bit width is derived from COUNT(*) by an integer threshold chain evaluated
# identically by Spark and DuckDB (no floats, no log2 rounding hazard), each
# hash table masks one statically hashed _ADAPT_MAX_BITS-bit key down to the
# effective width, and the probe set follows a FIXED-BUDGET multi-probe
# policy (below) so per-vector candidate work — probes × pinned occupancy —
# stays roughly flat as the corpus grows. Probes multiply join-KEY fanout
# only (2-int rows); vectors still attach exactly once per distinct
# surviving pair.
_ADAPT_MAX_BITS = 14
# n > threshold[i] → bits ≥ 5+i; n ≤ 750 → the fixed-plane variant's 4 bits,
# under which this query is candidate-for-candidate identical to it. The
# 750·2^i chain pins per-bucket occupancy to the (23.4, 46.9] band at every
# scale: each doubling of the corpus either stays in-band or adds one bit.
_ADAPT_BITS_THRESHOLDS = (
    750, 1500, 3000, 6000, 12000, 24000, 48000, 96000, 192000, 384000,
)
# Fixed probe BUDGET (query-independent multi-probe, the Lv et al. T dial
# without the query-directed ordering that SCALING_r05.md measured and
# rejected for these isotropic vectors): own bucket + all Hamming-1 flips +
# 2-bit flips in lexicographic order until the budget. With occupancy pinned
# by the threshold chain and the probe count capped, per-vector candidate
# work is ~constant at every width — the r5 policy's full H≤3 ball at 9-10
# bits (130-176 masks) was the measured cost cliff (89 s at the 20k-vector
# synth point) AND grew per-vector work ~(log n)^3, which a one-decade probe
# reads as e ≈ 1.3. The price is recall at extreme widths: truncating the
# 2-flip ball dials recall down proportionally (isotropic vectors make each
# 2-flip mask contribute ≈ equally), measured in tests at fixture widths;
# a deployment that needs more recall at 12+ bits adds HASH TABLES (more
# _EMB_LSH_OFFSETS entries), not probes — tables multiply recall
# independently while keeping each join's fan-out bounded.
_ADAPT_PROBE_BUDGET = 48
# Occupancy gate for probing (r7): a vector probes its Hamming ball only if
# its OWN bucket holds <= this many members; denser buckets keep own-bucket
# candidacy (mask 0) in all 4 tables but skip probe traffic. Measured on the
# 60k-vector synth corpus: real embeddings cluster, bucket mass is heavy-
# tailed (max 1110 vs mean 39.8 at 11 bits), and dense buckets' Hamming
# neighborhoods are dense too — un-gated probe volume was 1.08e9 join rows
# (model e = 1.45 over the upper decade); gated at 64 it is 2.2e8 (e = 1.13).
# Inert at bits <= 5 (n <= 1500): micro corpora have nothing to save, and
# this keeps the n <= 750 fixed-variant equivalence and the 900-row 5-bit
# oracle fixture at full probe recall.
_EMB_PROBE_OCC_BOUND = 64
# Per-bucket CANDIDACY cap (r7) — the _BUCKET_CAP discipline from
# dedup_minhash_lsh reapplied to the embedding tables: within each
# (table, bucket) only the first _EMB_BUCKET_CAP members by vec_id emit or
# receive pairs. The probe gate above bounds probe TRAFFIC, but it cannot
# touch own-bucket pair emission, and that is where the quadratic mass
# lives on a clustered corpus: at the 60k-vector synth point (11 bits,
# table 0) the occupancy tail is max 1110 / p99 803 against a 39.8 mean,
# and 98% of the 11.6M own-bucket pairs come from buckets with > 64
# members — a single 1110-member bucket alone is C(1110,2) = 616k pairs
# per table. When the TRUE answer is quadratic (a mega-cluster of mutual
# near-dups), no pair-materializing algorithm is subquadratic; the honest
# contract is a bounded candidacy window plus an audit
# (dedup_embedding_bucket_audit) that reports exactly how many members
# were excluded, mirroring dedup_minhash_bucket_audit. Inert at
# bits <= 5 for the same micro-corpus reasons as the probe gate.
_EMB_BUCKET_CAP = 64


def _check_adapt_coupling() -> None:
    """The bits CASE chain emits 4 + len(_ADAPT_BITS_THRESHOLDS) at the top;
    the masks CASE enumerates arms for bits 4.._ADAPT_MAX_BITS. If the two
    constants drift apart, the masks CASE has no arm for the emitted width —
    a raising ELSE guards it at runtime (r6 ADVICE: an ELSE-less CASE would
    return NULL probe_masks and silently zero the candidate set in BOTH
    engines), and this import-time assert catches the drift before any query
    is even built."""
    if 4 + len(_ADAPT_BITS_THRESHOLDS) != _ADAPT_MAX_BITS:
        raise AssertionError(
            f"adaptive-LSH coupling broken: 4 + {len(_ADAPT_BITS_THRESHOLDS)} "
            f"thresholds != _ADAPT_MAX_BITS={_ADAPT_MAX_BITS}; extend/trim "
            "_ADAPT_BITS_THRESHOLDS and _ADAPT_MAX_BITS together"
        )
    if list(_ADAPT_BITS_THRESHOLDS) != sorted(set(_ADAPT_BITS_THRESHOLDS)):
        raise AssertionError("_ADAPT_BITS_THRESHOLDS must be strictly increasing")


_check_adapt_coupling()


def _adapt_probe_masks(bits: int, budget: int = _ADAPT_PROBE_BUDGET) -> list[int]:
    """Probe masks (own bucket + Hamming-ball flips) for an effective width.

    Policy: ≤1 bit at 4-5 bits (4 bits must exactly match the fixed-plane
    variant's probe ball — the n ≤ 750 equivalence contract); from 6 bits,
    own bucket + all 1-flips + 2-flips in lexicographic (i,j) order,
    truncated to ``budget`` masks (_ADAPT_PROBE_BUDGET for the primary; the
    recall tier raises it to cover the full H≤2 ball at every width). The
    full H≤2 ball fits the default budget through 9 bits; wider keys probe
    the first 48 masks — a uniform recall dial under isotropy, and the flat
    cost that keeps per-vector candidate work pinned (probes × occupancy)
    at every corpus size."""
    masks = [0] + [1 << j for j in range(bits)]
    if bits >= 6:
        masks += [
            (1 << i) | (1 << j) for i in range(bits) for j in range(i + 1, bits)
        ]
    return masks[:budget]


def _adapt_bits_case(n_expr: str) -> str:
    """bits = 4 + (#thresholds exceeded) as a pure integer CASE chain —
    engine-portable (no LOG2 whose half-ulp could flip a CEIL boundary)."""
    clauses = " ".join(
        f"WHEN {n_expr} > {t} THEN {4 + len(_ADAPT_BITS_THRESHOLDS) - i}"
        for i, t in enumerate(reversed(_ADAPT_BITS_THRESHOLDS))
    )
    return f"(CASE {clauses} ELSE 4 END)"


def _adapt_masks_case(arr, err, budget: int = _ADAPT_PROBE_BUDGET) -> str:
    """CASE bits → static probe-mask array literal; ``arr`` renders a Python
    list in the engine's array syntax (DuckDB ``[..]`` vs Spark
    ``array(..)``), ``err`` renders an engine-native raising expression
    (DuckDB ``error(..)`` vs Spark ``raise_error(..)``) for the ELSE arm —
    a width outside 4.._ADAPT_MAX_BITS must FAIL LOUDLY, never evaluate to
    NULL masks and an empty candidate set (r6 ADVICE)."""
    clauses = " ".join(
        f"WHEN bits = {b} THEN {arr(_adapt_probe_masks(b, budget))}"
        for b in range(4, _ADAPT_MAX_BITS + 1)
    )
    msg = f"adaptive LSH: bits outside 4..{_ADAPT_MAX_BITS}"
    return f"(CASE {clauses} ELSE {err(msg)} END)"


def _adapt_bk_sql(offsets: tuple[int, ...] = _EMB_LSH_OFFSETS) -> str:
    """Shared oracle prefix: the par/bkf/bk CTE chain producing one narrow
    signature row per vector (vec_id, embedding, bits, k0..k{T-1}) — the SQL
    twin of ``_adaptive_lsh_build``'s signature rows. Reused
    by the pair oracle and the bucket-audit oracle so both engines derive
    buckets from the identical expression text; ``offsets`` selects the
    hash-table family (4 tables for the primary, 8 for the recall tier)."""
    from pg2parquet_spark.operators.similarity import bucket_sql_offset_n

    keys = ", ".join(
        f"{bucket_sql_offset_n('embedding', EMB_DIM, False, off, _ADAPT_MAX_BITS)} AS kf{t}"
        for t, off in enumerate(offsets)
    )
    kcols = ", ".join(
        f"kf{t} % (1 << bits) AS k{t}" for t in range(len(offsets))
    )
    # AS MATERIALIZED: the signature CTE is consumed by every per-table
    # pair join (8 references) and each key column unrolls ~600 arithmetic
    # terms — inlined per reference, DuckDB re-evaluates the whole chain 8x
    # and the 4-window bkr consumer turned that into a 40 s / multi-GB
    # oracle on a 900-row corpus. Materializing evaluates it once (the
    # Spark side's signature rows have one consumer chain, so it computes
    # them once by construction).
    return f"""par AS (SELECT {_adapt_bits_case('COUNT(*)')} AS bits FROM embeddings),
bkf AS (SELECT vec_id, embedding, {keys} FROM embeddings),
bk AS MATERIALIZED (SELECT vec_id, embedding, bits, {kcols} FROM bkf, par)"""


def _adapt_oracle_sql(
    offsets: tuple[int, ...] = _EMB_LSH_OFFSETS,
    bucket_cap: int = _EMB_BUCKET_CAP,
    occ_bound: int = _EMB_PROBE_OCC_BOUND,
    budget: int = _ADAPT_PROBE_BUDGET,
) -> str:
    masks = _adapt_masks_case(
        lambda ms: "[" + ", ".join(map(str, ms)) + "]",
        lambda msg: f"error('{msg}')",
        budget,
    )
    rns = ", ".join(
        f"ROW_NUMBER() OVER (PARTITION BY k{t} ORDER BY vec_id) AS rn{t}"
        for t in range(len(offsets))
    )
    occs = ",\n".join(
        f"occ{t} AS (SELECT k{t} AS key, COUNT(*) AS c FROM bk GROUP BY k{t})"
        for t in range(len(offsets))
    )
    joins = []
    for t in range(len(offsets)):
        joins.append(
            f"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       {dot_sql('a.embedding', 'b.embedding', EMB_DIM, False)} AS cos_sim
  FROM (SELECT bk.vec_id, bk.embedding, xor(bk.k{t}, pm.m) AS pk
          FROM bkr bk JOIN occ{t} ON bk.k{t} = occ{t}.key, pm
         WHERE (bk.bits <= 5 OR bk.rn{t} <= {bucket_cap})
           AND (pm.m = 0 OR bk.bits <= 5 OR occ{t}.c <= {occ_bound})) a
  JOIN bkr b ON a.pk = b.k{t} AND a.vec_id < b.vec_id
            AND (b.bits <= 5 OR b.rn{t} <= {bucket_cap})"""
        )
    pair_union = "\n  UNION ALL\n".join(joins)
    return f"""
WITH {_adapt_bk_sql(offsets)},
bkr AS MATERIALIZED (SELECT *, {rns} FROM bk),
pm AS (SELECT unnest({masks}) AS m FROM par),
{occs},
pairs AS (
  {pair_union}
)
SELECT DISTINCT a_id, b_id, cos_sim FROM pairs WHERE cos_sim >= {_EMB_COS_THRESHOLD}
"""


@register(
    "dedup_embedding_cosine_lsh",
    oracle=_adapt_oracle_sql(),
    doc="Embedding-cosine near-dup pairs with a CORPUS-ADAPTIVE bucket width — "
    "the PRIMARY LSH dedup since r7 (the fixed-plane form it replaced is "
    "dedup_embedding_cosine_lsh_fixed, measured superlinear at e(upper)=1.31 "
    "in SCALING_r05.md). bits = 4 + #integer-thresholds-exceeded by COUNT(*) "
    "(750·2^i chain up to 14 bits — no float log2, so Spark and DuckDB agree "
    "bit-for-bit); each of the 4 hash tables hashes one static 14-bit sign "
    "key and masks it to the effective width, pinning per-bucket occupancy "
    "to the (23.4, 46.9] band at every corpus size. Probing is FIXED-BUDGET "
    "multi-probe (own bucket + 1-flips + lexicographic 2-flips, ≤48 masks), "
    "OCCUPANCY-GATED (_EMB_PROBE_OCC_BOUND: vectors in dense buckets skip "
    "probe traffic, own-bucket candidacy kept) and CANDIDACY-CAPPED "
    "(_EMB_BUCKET_CAP: first 64 members by vec_id per bucket emit/receive "
    "pairs, dropped mass reported by dedup_embedding_bucket_audit) — on a "
    "clustered corpus the occupancy tail is heavy (max 1110 vs mean 39.8 "
    "at the 60k-vector synth point) and own-bucket pair emission is "
    "quadratic in bucket size, so when the TRUE near-dup answer is "
    "quadratic the bounded-candidacy-plus-audit contract is the only "
    "100 TB-honest one (SCALING_r07_embdial.md; the minhash _BUCKET_CAP "
    "discipline). Probes explode join KEYS only; both dials are inert at "
    "bits<=5. At n ≤ 750 (the driver's sf0.01 gate) this is candidate-for-"
    "candidate identical to the fixed variant (tested); at sf0.1 the "
    "6-bit path runs under the oracle; the synth probes exercise 7-11 "
    "bits (tools/scaleprobe.py). Execution shape (r13, the IVF cell-block "
    "transplant): capped rows emit one embedding-carrying row per gated "
    "probe mask and ONE (table, bucket) exchange feeds a grouped Arrow "
    "kernel that scores all-rows × member blocks (_score_blocks) — "
    "candidate pairs exist only as matrix entries, so shuffle and Arrow "
    "mass are O(N·probes·emb), independent of in-bucket pair mass. "
    "RECALL CONTRACT (r9, "
    "SCALING_r09_embrecall.md): holding cost flat pays recall — measured "
    "planted-pair recall at the 0.4 threshold is 0.67 at sf0.1 (6 bits), "
    "0.07 at 60k vectors (11 bits), 0.005 at 600k (14 bits); the probe-"
    "geometry ceiling alone is 0.98/0.41/0.12 and the caps take the rest. "
    "This is the LSH exponent at work (p = 1 - acos(0.4)/pi = 0.631/bit; "
    "rho ~ 0.66 — exhaustive pair mining at cos 0.4 is ~n^1.66 however "
    "buckets are built), not a tuning defect. Consumers MUST read "
    "dedup_embedding_lsh_recall_audit's verdict before trusting this "
    "channel at scale; recall-critical moderate-threshold corpora route "
    "to dedup_embedding_cosine_exact (quadratic by contract).",
)
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _adaptive_lsh_build(spark, sf_dir)


def _emb_audit_oracle_sql() -> str:
    sizes = "\n  UNION ALL ".join(
        f"SELECT {t} AS table_idx, k{t} AS key, bits, COUNT(*) AS sz "
        f"FROM bk GROUP BY 1, 2, 3"
        for t in range(len(_EMB_LSH_OFFSETS))
    )
    return f"""
WITH {_adapt_bk_sql()},
ls AS (
  {sizes}
)
SELECT CAST(table_idx AS BIGINT) AS table_idx,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(sz) AS BIGINT) AS max_bucket,
       CAST(SUM(CASE WHEN bits > 5 AND sz > {_EMB_BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_oversized,
       CAST(SUM(CASE WHEN bits > 5 AND sz > {_EMB_BUCKET_CAP} THEN sz - {_EMB_BUCKET_CAP} ELSE 0 END) AS BIGINT) AS n_dropped_members
FROM ls WHERE sz >= 2
GROUP BY table_idx
"""


@register(
    "dedup_embedding_bucket_audit",
    oracle=_emb_audit_oracle_sql(),
    doc="Candidacy-cap OBSERVABILITY for dedup_embedding_cosine_lsh — "
    "dedup_minhash_bucket_audit's contract reapplied to the embedding "
    "tables: per hash table, the collision-bucket count, the largest "
    "bucket, and how many members the _EMB_BUCKET_CAP candidacy window "
    "actually excluded from pair emission (zero when the cap is inert at "
    "bits <= 5). A capped run that silently dropped members must not "
    "publish its pair list as complete; this is the row a curation "
    "scorecard consumes before trusting the near-dup channel. Plan: the "
    "same narrow signature rows as the pair build (_adapt_signature_rows), "
    "the 4 table keys exploded MAP-SIDE to (table_idx, key) so the corpus "
    "is scanned ONCE (a per-table groupBy union would recompute the "
    "56-plane hash 4x — the audit path does not checkpoint), one "
    "(table_idx, key) groupBy, one bounded per-table fold — no embeddings "
    "shuffle, no pairs.",
)
def dedup_embedding_bucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, bk = _adapt_signature_rows(spark, sf_dir)
    tk = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("table_idx"), F.col(f"k{t}").alias("key")
                )
                for t in range(len(_EMB_LSH_OFFSETS))
            ]
        )
    ).alias("tk")
    ls = (
        bk.select("bits", tk)
        .select(F.col("tk.table_idx").alias("table_idx"), F.col("tk.key").alias("key"), "bits")
        .groupBy("table_idx", "key")
        .agg(F.count(F.lit(1)).alias("sz"), F.min("bits").alias("bits"))
    )
    over = (F.col("bits") > 5) & (F.col("sz") > _EMB_BUCKET_CAP)
    return (
        ls.filter(F.col("sz") >= 2)
        .groupBy(F.col("table_idx").cast("bigint").alias("table_idx"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.max("sz").cast("bigint").alias("max_bucket"),
            F.sum(F.when(over, 1).otherwise(0)).cast("bigint").alias("n_oversized"),
            F.sum(F.when(over, F.col("sz") - _EMB_BUCKET_CAP).otherwise(0))
            .cast("bigint")
            .alias("n_dropped_members"),
        )
    )


# --------------------------------------------- LSH recall-ceiling audit --
# r9, from the planted-recall measurement (SCALING_r09_embrecall.md): the
# adaptive width dial holds COST flat as the corpus grows, but the probe
# geometry's recall decays exponentially with width at a fixed mask budget —
# measured planted-pair recall at the 0.4 contract threshold: 0.67 at sf0.1
# (6 bits), 0.07 at 60k vectors (11 bits), 0.005 at 600k (14 bits). This is
# not a tuning bug but the LSH exponent: for random hyperplanes the per-bit
# agreement probability at cos c is p = 1 - acos(c)/pi (Goemans-Williamson),
# which at c = 0.4 is 0.631 — barely above the 0.5 of an unrelated pair — so
# ANY subquadratic candidate scheme at this threshold pays recall
# (rho = ln(1/p1)/ln(1/p0) ~ 0.66: exhaustive pair mining at cos 0.4 costs
# ~n^1.66 no matter how the buckets are built). The 100 TB-honest contract
# is therefore the same as the candidacy caps': REPORT the tradeoff from
# inside the engine. This audit emits the closed-form PROBE-GEOMETRY recall
# ceiling of the currently-selected width for a grid of pair cosines —
# P(pair collides in >=1 probed bucket of >=1 table) =
#   1 - (1 - [p^b + n1·p^(b-1)·q + n2·p^(b-2)·q^2])^T,
# with n1/n2 the 1-/2-flip masks inside the probe budget — and a verdict
# ('degraded' below 0.8 at the contract threshold). Ceiling, not estimate:
# the occupancy gate and candidacy cap can only remove further recall (their
# drops are reported by dedup_embedding_bucket_audit). The whole model is
# computed HOST-SIDE into literal rows, so Spark and DuckDB compare pure
# decimal constants — no acos/pow in either engine, no libm-ulp hazard.
_RECALL_AUDIT_COS_LEVELS = (0.4, 0.5, 0.6, 0.8, 0.9)
_RECALL_AUDIT_TARGET = 0.8


def _adapt_recall_model(
    n_tables: int = len(_EMB_LSH_OFFSETS), budget: int = _ADAPT_PROBE_BUDGET
) -> list[tuple[int, int, float, float]]:
    """(bits, n_probe_masks, cos_level, recall_ceiling) for every width arm
    — the host-side model table both engines select from as literals.
    ``n_tables``/``budget`` select the tier (4×48 primary, 8×full-ball
    recall tier)."""
    import math

    rows: list[tuple[int, int, float, float]] = []
    for b in range(4, _ADAPT_MAX_BITS + 1):
        masks = _adapt_probe_masks(b, budget)
        n1 = sum(1 for m in masks if bin(m).count("1") == 1)
        n2 = sum(1 for m in masks if bin(m).count("1") == 2)
        for c in _RECALL_AUDIT_COS_LEVELS:
            p = 1.0 - math.acos(c) / math.pi
            q = 1.0 - p
            p1 = p**b + n1 * p ** (b - 1) * q + n2 * p ** (b - 2) * q * q
            r = 1.0 - (1.0 - p1) ** n_tables
            rows.append((b, len(masks), c, round(r, 6)))
    return rows


def _recall_audit_oracle_sql(
    n_tables: int = len(_EMB_LSH_OFFSETS), budget: int = _ADAPT_PROBE_BUDGET
) -> str:
    vals = ", ".join(
        f"({b}, {nm}, {c!r}, {r!r})"
        for b, nm, c, r in _adapt_recall_model(n_tables, budget)
    )
    return f"""
WITH par AS (SELECT {_adapt_bits_case('COUNT(*)')} AS bits FROM embeddings),
model(bits, n_probe_masks, cos_level, recall_ceiling) AS (VALUES {vals})
SELECT CAST(m.bits AS BIGINT) AS bits,
       CAST({n_tables} AS BIGINT) AS n_tables,
       CAST(m.n_probe_masks AS BIGINT) AS n_probe_masks,
       m.cos_level AS cos_level,
       m.recall_ceiling AS recall_ceiling,
       CASE WHEN m.recall_ceiling >= {_RECALL_AUDIT_TARGET} THEN 'ok'
            ELSE 'degraded' END AS verdict
FROM model m JOIN par ON m.bits = par.bits
"""


@register(
    "dedup_embedding_lsh_recall_audit",
    oracle=_recall_audit_oracle_sql(),
    doc="RECALL observability for dedup_embedding_cosine_lsh — the third "
    "leg of the audit contract (bucket audit reports capped mass, balance "
    "guard reports skew, THIS reports what the width dial costs in recall). "
    "Emits the closed-form probe-geometry recall ceiling of the corpus's "
    "derived width for a grid of pair cosines, with a 'degraded' verdict "
    f"below {_RECALL_AUDIT_TARGET} — at 14 bits / 48 masks the ceiling at "
    "the 0.4 contract threshold is ~0.03, which is why the measured "
    "planted-pair recall collapses at the 600k synth point "
    "(SCALING_r09_embrecall.md; the bucket/probe dials can only remove "
    "more). A curation scorecard reads this row BEFORE trusting the LSH "
    "pair channel at scale, and routes recall-critical corpora to "
    "dedup_embedding_cosine_exact (quadratic by contract) or accepts the "
    "ceiling. Model rows are host-computed literals (no acos/pow in either "
    "engine); plan is one 1-row count crossed with a bounded literal table "
    "— zero data shuffles.",
)
def dedup_embedding_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_audit_df(
        spark, sf_dir, len(_EMB_LSH_OFFSETS), _ADAPT_PROBE_BUDGET
    )


def _recall_audit_df(
    spark: SparkSession, sf_dir: str, n_tables: int, budget: int
) -> DataFrame:
    """Shared Spark side of the two recall-ceiling audits (primary tier and
    recall tier) — one parameterized builder so the grids can never drift."""
    emb = table(spark, sf_dir, "embeddings")
    par = emb.agg(F.expr(_adapt_bits_case("COUNT(*)")).alias("pbits"))
    model = spark.createDataFrame(
        _adapt_recall_model(n_tables, budget),
        "bits int, n_probe_masks int, cos_level double, recall_ceiling double",
    )
    return (
        model.join(F.broadcast(par), F.col("bits") == F.col("pbits"))
        .select(
            F.col("bits").cast("bigint").alias("bits"),
            F.lit(n_tables).cast("bigint").alias("n_tables"),
            F.col("n_probe_masks").cast("bigint").alias("n_probe_masks"),
            "cos_level",
            "recall_ceiling",
            F.when(F.col("recall_ceiling") >= _RECALL_AUDIT_TARGET, "ok")
            .otherwise("degraded")
            .alias("verdict"),
        )
    )


# ------------------------------------ recall-tier embedding LSH (r9) -------
# The measured recall contract (SCALING_r09_embrecall.md) prices the primary
# adaptive LSH honestly: flat cost buys recall 0.67/0.07/0.005 at
# sf0.1/60k/600k for cos 0.4 pairs. The primary's docstring routes
# recall-critical corpora to the quadratic exact arm — a cliff. This tier is
# the documented middle rung made real: the OR-construction recall dial
# ("add HASH TABLES, not probes") as a registered, oracle-gated operator.
# Same adaptive width chain (occupancy stays pinned per bucket), but:
#   - 8 independent hash tables instead of 4 (collision probabilities
#     OR-multiply: 1-(1-x)^8 vs 1-(1-x)^4);
#   - the FULL H≤2 probe ball at every width (budget 106 covers 1+14+91 at
#     14 bits) instead of the 48-mask truncation;
#   - no occupancy gate (probe traffic is exactly what this tier buys);
#   - candidacy cap raised 64 → 256 (audited; C(256,2) per bucket bounds
#     the mega-bucket worst case at 16× the primary's).
#   - the occupancy gate is KEPT at the primary's bound — the r9 dial
#     experiment ran the gate-off form at the 60k point and it overran an
#     80 GB local spill budget (dense buckets' Hamming neighborhoods are
#     dense; un-gated probe traffic is the measured blowup, same finding as
#     r7's gate introduction), while gate-64 + cap-256 + full ball + a
#     pre-score distinct completes in ~160 s with recall 0.227 vs the
#     primary's 0.072.
# Probe-geometry ceiling at cos 0.4 (host model, dedup_embedding_recall_
# tier_audit): 0.77 at 11 bits / 0.41 at 14 bits, vs the primary's
# 0.41 / 0.12. Measured planted-pair recall (SCALING_r09_embrecall2.md):
# 3.2× the primary's at the 60k point, 0.87 at sf0.1. Cost model:
# candidate volume ≈ (T/4)·(probes/48)·(cap relaxation)× the primary's —
# super-linear in the dials, linear in the corpus; every per-bucket bound,
# audit, and the exact Arrow re-score tail are shared with the primary by
# construction (same parameterized builder).
_EMB_RECALL_OFFSETS = (0, 100, 200, 300, 400, 500, 600, 700)
_EMB_RECALL_BUCKET_CAP = 256
_EMB_RECALL_OCC_BOUND = _EMB_PROBE_OCC_BOUND  # feasibility bound, see above
# full own+H1+H2 ball at the maximum width; _adapt_probe_masks never
# truncates under this budget
_EMB_RECALL_PROBE_BUDGET = 1 + _ADAPT_MAX_BITS + (_ADAPT_MAX_BITS * (_ADAPT_MAX_BITS - 1)) // 2


@register(
    "dedup_embedding_cosine_lsh_recall",
    oracle=_adapt_oracle_sql(
        _EMB_RECALL_OFFSETS,
        _EMB_RECALL_BUCKET_CAP,
        _EMB_RECALL_OCC_BOUND,
        _EMB_RECALL_PROBE_BUDGET,
    ),
    doc="RECALL-TIER embedding near-dup pairs — the OR-construction middle "
    "rung between dedup_embedding_cosine_lsh (flat cost, width-priced "
    "recall) and dedup_embedding_cosine_exact (full recall, quadratic by "
    "contract). Same corpus-adaptive width chain and exact Arrow re-score "
    "tail as the primary, built by the same parameterized builder, but 8 "
    "independent hash tables (plane offsets 0..700 — all 112 planes "
    "pairwise distinct, tested), the FULL H≤2 probe ball at every width "
    "(106 masks at 14 bits), and the candidacy cap at 256. (The r9 "
    "PRE-SCORE distinct is gone with the r13 grouped scorer: cross-table "
    "candidate duplication used to ride a ~540 B/row vector attach — the "
    "un-deduped 60k run overran an 80 GB spill budget — whereas grouped "
    "cell-block scoring never materializes pair rows, so duplicates cost "
    "kernel FLOPs only and the post-threshold distinct collapses them.) The "
    "occupancy gate stays at the primary's bound: the gate-off form was "
    "measured infeasible (dense Hamming neighborhoods), and the gate is "
    "what keeps this tier's cost bounded. Probe-geometry ceiling at the "
    "0.4 contract threshold: 0.77 at 11 bits and 0.41 at 14 bits vs the "
    "primary's 0.41/0.12 (dedup_embedding_recall_tier_audit emits the "
    "full grid); MEASURED planted-pair recall (SCALING_r09_embrecall2.md): "
    "0.227 vs 0.072 at the 60k point (3.2×, 158 s vs 28 s), 0.87 vs 0.67 "
    "at sf0.1. STRUCTURAL SUPERSET of the primary: tables 0-3 share "
    "its offsets, the mask list extends its prefix, cap 256 ⊇ cap 64, "
    "same gate — every primary survivor pair is a recall-tier survivor "
    "pair (tested at sf0.1). Dropped mass is still audited via the shared "
    "bucket-audit discipline.",
)
def dedup_embedding_cosine_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _adaptive_lsh_build(
        spark,
        sf_dir,
        offsets=_EMB_RECALL_OFFSETS,
        bucket_cap=_EMB_RECALL_BUCKET_CAP,
        occ_bound=_EMB_RECALL_OCC_BOUND,
        budget=_EMB_RECALL_PROBE_BUDGET,
    )


@register(
    "dedup_embedding_recall_tier_audit",
    oracle=_recall_audit_oracle_sql(
        len(_EMB_RECALL_OFFSETS), _EMB_RECALL_PROBE_BUDGET
    ),
    doc="Recall observability for dedup_embedding_cosine_lsh_recall — the "
    "same closed-form probe-geometry ceiling grid as dedup_embedding_lsh_"
    "recall_audit, evaluated for the recall tier's dials (8 tables, full "
    "H≤2 probe ball). Reading both audits side by side prices the tier "
    "decision: at 14 bits / cos 0.4 the primary's ceiling is ~0.12, this "
    "tier's ~0.41, the exact arm 1.0 at quadratic cost. Host-computed "
    "literal model rows; one 1-row count broadcast-joined to a bounded "
    "literal table — zero data shuffles.",
)
def dedup_embedding_recall_tier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_audit_df(
        spark, sf_dir, len(_EMB_RECALL_OFFSETS), _EMB_RECALL_PROBE_BUDGET
    )


# --------------------------------------- IVF embedding dedup tier (r9) ----
# A DATA-ADAPTIVE coarse quantizer next to the sign-LSH family: cells are
# sampled corpus rows (the classic IVF-flat / k-means-init partition), not
# data-oblivious random hyperplanes. Why it earns a third name: the planted-
# recall measurement (SCALING_r09_embrecall.md) showed the LSH exponent
# caps hyperplane recall at a fixed probe budget (0.07 at 60k vectors for
# the primary, 0.23 for the 8-table recall tier) — but a NEAR-DUP pair is
# near-identical as a vector, so its two members have near-identical dot
# products against EVERY centroid and land in the same nearest-centroid
# cell with probability approaching 1, independent of corpus size; only
# pairs straddling a cell boundary are lost, and nprobe=2 multi-assignment
# (each vector joins its top-2 cells) covers most of those. Centroid count
# is the same corpus-adaptive dial as the LSH bit width: k doubles with the
# corpus so per-cell occupancy stays pinned to the (23.4, 46.9] band, and
# per-vector candidate work (nprobe · occupancy) is ~constant at every
# scale. Assignment is one corpus scan against a broadcast centroid table
# (N·k dot products, whole-stage-codegen'd; rows narrowed to
# (vec_id, cid, dot) BEFORE the top-2 window so WindowGroupLimit's partial
# mode prunes to 2 rows/vector map-side — the shuffle never sees N·k rows).
# The same bounded-candidacy-plus-audit contract as the LSH tiers applies:
# k-means-style cells on clustered corpora have heavy tails too, so a
# per-cell candidacy cap (_IVF_CELL_CAP, ~2x the balanced band, inert on
# uniform corpora) bounds the quadratic own-cell pair mass and
# dedup_embedding_ivf_cell_audit reports exactly what it excluded.
_IVF_K_BASE = 8
# n > threshold[i] → k doubles; lockstep with the LSH chain's philosophy
# but starting at 375 so occupancy lands in the same (23.4, 46.9] band
# with k a power of two. Capped at 131072 cells (n > 3072000) — the r10
# ceiling of 16384 (n > 384000) let corpora past ~768k vectors leave the
# occupancy band entirely, going quadratic on in-cell pair mass (r10
# VERDICT #3); three more decades keep the band through multi-million-row
# corpora at a centroid-broadcast cost that stays executor-trivial
# (131072 x 64 float64 = 67 MiB, shipped once per executor).
_IVF_K_THRESHOLDS = (
    375, 750, 1500, 3000, 6000, 12000, 24000, 48000, 96000, 192000, 384000,
    768000, 1536000, 3072000,
)
_IVF_SEED_MOD = 13  # centroid sample: every 13th vec_id (deterministic)
_IVF_SEED_REM = 3
_IVF_NPROBE = 2  # each vector assigned to its top-2 nearest centroids
_IVF_CELL_CAP = 192  # candidacy cap ≈ 2x the balanced nprobe·occupancy band
# RECALL arm dials (dedup_embedding_ivf_probe4): the measured nprobe curve
# (SCALING_r09_ivfdial.md — recall ~doubles per nprobe doubling: 0.053 /
# 0.102 / 0.193 at 1/2/4 at the 60k point) makes nprobe the recall dial;
# at nprobe=4 this arm reached ~85% of the 8-table LSH recall tier's
# planted recall at ~1/8 its box-normalized cost. Cap scales with the
# assignment multiplicity: 4·occupancy band tops at 187.6, cap = 2x again.
_IVF4_NPROBE = 4
_IVF4_CELL_CAP = 384
# one centroid broadcast per (applicationId, sf_dir, k): bounded by the
# handful of distinct corpora a session touches, vs. a fresh 8 MiB leak per
# _ivf_assignments call (pair build + 2 audits + recall eval = 4+ per query).
# Entries carry a content fingerprint of the parquet inputs (paths + size +
# mtime): a rewrite of the same path within one app invalidates the entry
# and unpersists the stale broadcast instead of silently serving dead
# centroids (r10 ADVICE).
_IVF_BC_CACHE: dict = {}
# corpus row count per (applicationId, sf_dir): the assignment kernels need
# n driver-side to size k, and one query invokes the assignment build
# several times (pair build + cell audit + recall eval) — cache the count
# under the same fingerprint discipline so each corpus pays ONE count scan
# per session, not one per call (r10 VERDICT nit).
_IVF_N_CACHE: dict = {}


def _emb_fingerprint(emb: DataFrame) -> tuple:
    """Content fingerprint of a DataFrame's parquet inputs: sorted
    (path, size, mtime) triples — driver-side file metadata only, no job.
    Non-local inputs degrade to path-only (still catches re-pointing)."""
    import os as _os

    out = []
    for uri in emb.inputFiles():
        path = uri[7:] if uri.startswith("file://") else uri
        try:
            st = _os.stat(path)
            out.append((path, st.st_size, st.st_mtime_ns))
        except OSError:
            out.append((path, -1, -1))
    return tuple(sorted(out))


def _ivf_corpus_n(spark: SparkSession, sf_dir: str, emb: DataFrame) -> int:
    """The cached corpus count (see _IVF_N_CACHE)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    fp = _emb_fingerprint(emb)
    hit = _IVF_N_CACHE.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    n = emb.count()
    _IVF_N_CACHE[key] = (fp, n)
    return n


def _check_ivf_coupling() -> None:
    """Import-time guards: (1) thresholds double in lockstep so the
    occupancy band is the same in every dial position; (2) the centroid
    sample is dense enough that rn <= k always finds k seed rows — at the
    worst band edge (n just above a threshold) seeds ≈ n/_IVF_SEED_MOD must
    cover k = 2·(k at the threshold), which the first-threshold inequality
    pins for the whole lockstep chain. (Sub-375 micro corpora may yield
    fewer than 8 seeds; the build then just runs with fewer, coarser cells
    — both engines identically, since cent derives from the same rows.)"""
    for a, b in zip(_IVF_K_THRESHOLDS, _IVF_K_THRESHOLDS[1:]):
        if b != 2 * a:
            raise AssertionError("_IVF_K_THRESHOLDS must double in lockstep")
    if _IVF_K_THRESHOLDS[0] < 2 * _IVF_SEED_MOD * _IVF_K_BASE:
        raise AssertionError(
            "centroid sample too sparse: n/_IVF_SEED_MOD can undershoot the "
            "k dial at a band edge; densify _IVF_SEED_MOD or raise the "
            "first threshold"
        )


_check_ivf_coupling()


def _ivf_k_case(n_expr: str) -> str:
    """k = _IVF_K_BASE · 2^(#thresholds exceeded) as a pure integer CASE
    chain — engine-portable, same construction as _adapt_bits_case."""
    clauses = " ".join(
        f"WHEN {n_expr} > {t} THEN {_IVF_K_BASE << (len(_IVF_K_THRESHOLDS) - i)}"
        for i, t in enumerate(reversed(_IVF_K_THRESHOLDS))
    )
    return f"(CASE {clauses} ELSE {_IVF_K_BASE} END)"


def _ivf_chain_sql(nprobe: int = _IVF_NPROBE) -> str:
    """Shared oracle prefix: par (corpus-adaptive k) → sd (deterministic
    centroid sample, globally numbered) → cent (first k samples) → ad
    (every vector scored against every centroid, ranked) → asg (top-nprobe
    cells per vector, MATERIALIZED — consumed by both pair-join sides and
    by the cell audit). The SQL twin of ``_ivf_assignments``; ``nprobe``
    selects the arm (2 = primary tier, 4 = recall arm)."""
    d = dot_sql("e.embedding", "c.cemb", EMB_DIM, False)
    return f"""par AS (SELECT {_ivf_k_case('COUNT(*)')} AS k FROM embeddings),
sd AS (SELECT vec_id, embedding, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
       FROM embeddings WHERE vec_id % {_IVF_SEED_MOD} = {_IVF_SEED_REM}),
cent AS (SELECT rn AS cid, embedding AS cemb FROM sd, par WHERE rn <= k),
ad AS (SELECT e.vec_id, c.cid,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                 ORDER BY {d} DESC, c.cid) AS pr
       FROM embeddings e CROSS JOIN cent c),
asg AS MATERIALIZED (SELECT vec_id, cid FROM ad WHERE pr <= {nprobe})"""


def _ivf_pairs_oracle_sql(
    nprobe: int = _IVF_NPROBE, cap: int = _IVF_CELL_CAP
) -> str:
    return f"""
WITH {_ivf_chain_sql(nprobe)},
cpd AS (SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY cid ORDER BY vec_id) AS rnc
        FROM asg),
pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM cpd a JOIN cpd b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE a.rnc <= {cap} AND b.rnc <= {cap}),
scored AS (
  SELECT p.a_id, p.b_id,
         {dot_sql('ea.embedding', 'eb.embedding', EMB_DIM, False)} AS cos_sim
  FROM pairs p
  JOIN embeddings ea ON ea.vec_id = p.a_id
  JOIN embeddings eb ON eb.vec_id = p.b_id)
SELECT DISTINCT a_id, b_id, cos_sim FROM scored WHERE cos_sim >= {_EMB_COS_THRESHOLD}
"""


def _ivf_par(emb: DataFrame) -> DataFrame:
    """The 1-row corpus-adaptive k of the IVF tier — the oracle's ``par``."""
    return emb.agg(F.count("*").alias("n")).select(F.expr(_ivf_k_case("n")).alias("k"))


def _ivf_assignments(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = _IVF_NPROBE,
    seed_rem: int = _IVF_SEED_REM,
) -> DataFrame:
    """Declarative (vec_id, cid, pr) assignments, one row per (vector,
    probed cell), ``pr`` = probe rank (1 = nearest cell): the Spark twin
    of the ``_ivf_chain_sql`` CTEs as broadcast-crossJoin + WindowGroupLimit
    top-nprobe. Kept as the pure-Catalyst reference the Arrow kernel
    (_ivf_kernel) is tested against row for row
    (test_ivf_arrow_assignment_matches_declarative,
    test_ivf_ranked_assignment_matches_declarative), and the form a
    SQL-only deployment would run."""
    from pyspark.sql import Window as W

    from pg2parquet_spark.operators.similarity import dot_col

    emb = table(spark, sf_dir, "embeddings")
    # centroid sample: ~n/13 rows — the global row_number is a
    # one-partition window over the SAMPLE only (bounded: ≤16384 needed
    # of ≤ n/13 rows), never over the corpus
    sd = (
        emb.filter(F.expr(f"vec_id % {_IVF_SEED_MOD} = {seed_rem}"))
        .select("vec_id", "embedding")
        .withColumn("rn", F.row_number().over(W.orderBy("vec_id")))
    )
    cent = (
        sd.crossJoin(F.broadcast(_ivf_par(emb)))
        .filter(F.col("rn") <= F.col("k"))
        .select(F.col("rn").alias("cid"), F.col("embedding").alias("cemb"))
    )
    # one corpus scan x broadcast centroids; narrow to (vec_id, cid,
    # dot) BEFORE the top-2 window so WindowGroupLimit's partial mode
    # keeps 2 rows/vector map-side and the exchange never carries N·k
    # rows
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cid", dot_col("embedding", "cemb").alias("cd")
    )
    return (
        scored.withColumn(
            "pr",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy(F.desc("cd"), F.asc("cid"))
            ),
        )
        .filter(F.col("pr") <= nprobe)
        .select("vec_id", "cid", "pr")
    )


def _ivf_rank_cells(Ae, C, nprobe: int):
    """Top-nprobe centroid ranking for one row chunk: (rows ×
    min(nprobe, k)) int32 matrix of 1-based cids ordered by (dot DESC,
    cid ASC) — the score core of the assignment kernel.

    Exactness: every dot is the dimension-ordered fold (_dot_block), and
    top-nprobe extraction is nprobe argmax-and-mask passes (argmax
    returns the FIRST maximal column = lowest cid on exact dot ties,
    matching the window's ORDER BY dot DESC, cid).

    Performance: the k axis is TILED so the accumulator tile stays
    cache-resident across the 64 dimension passes (r11). The untiled form
    streamed the full rows×k block through DRAM once per dimension —
    ~k·D·8·2 bytes of traffic per row (≈25 MB/row at k=16384), which made
    the 600k-corpus assignment memory-bound at ~1600 s; per-element
    accumulation order is unchanged by tiling over k (each acc[i,j] still
    folds d=0..D-1 in sequence), so the output is bit-identical — pinned
    by test_ivf_arrow_assignment_matches_declarative. Traffic drops to
    ~one write of the score block plus D cache-resident tile passes."""
    import numpy as np

    kk = C.shape[0]
    rows_n = Ae.shape[0]
    acc = np.empty((rows_n, kk))
    # tile width: rows×tile×8 ≈ 1 MiB keeps the working tile in L2
    tile = max(8, min(kk, (1 << 17) // max(rows_n, 1)))
    for a in range(0, kk, tile):
        acc[:, a : a + tile] = _dot_block(Ae, C[a : a + tile])
    rows = np.arange(rows_n)
    width = min(nprobe, kk)
    ranked = np.empty((rows_n, width), dtype=np.int32)
    for p in range(width):
        top = np.argmax(acc, axis=1)
        ranked[:, p] = top + 1
        acc[rows, top] = -np.inf
    return ranked


def _ivf_centroid_bc(spark, sf_dir, emb, k: int, seed_rem: int):
    """The per-(app, sf_dir, k, rem) centroid broadcast — one collect and
    one broadcast per distinct key per session (shared by every pair build
    and audit that runs the kernel). The value is a k × dim float64
    matrix whose row j is cid j+1 (the sample's vec_id order = the
    oracle's ROW_NUMBER() OVER (ORDER BY vec_id)). A broadcast, not a
    closure capture: a captured array rides the pickled function into
    EVERY task (k=16384 is 8 MiB — 10k tasks would ship ~80 GB from the
    driver), while a broadcast lands once per executor. A hit is served
    only if the input fingerprint still matches; on mismatch the stale
    broadcast is unpersisted and rebuilt (r10 ADVICE — a rewritten corpus
    at the same path must not be scored against dead centroids)."""
    import numpy as np

    cache_key = (spark.sparkContext.applicationId, sf_dir, k, seed_rem)
    fp = _emb_fingerprint(emb)
    hit = _IVF_BC_CACHE.get(cache_key)
    if hit is not None:
        if hit[0] == fp:
            return hit[1]
        hit[1].unpersist()
    cent_rows = (
        emb.filter(F.expr(f"vec_id % {_IVF_SEED_MOD} = {seed_rem}"))
        .orderBy("vec_id")
        .limit(k)
        .select("embedding")
        .collect()
    )
    bc = spark.sparkContext.broadcast(
        np.array([r.embedding for r in cent_rows], dtype=np.float64)
    )
    # entries keyed by a DEAD applicationId can never hit again (the key's
    # first element is the live app's id) — drop them on insert so
    # broadcasts from stopped in-process sessions don't accumulate for the
    # process lifetime (r11 ADVICE). Same sweep for the count cache.
    app_id = cache_key[0]
    for cache in (_IVF_BC_CACHE, _IVF_N_CACHE):
        for k_ in [k_ for k_ in cache if k_[0] != app_id]:
            del cache[k_]
    _IVF_BC_CACHE[cache_key] = (fp, bc)
    return bc


def _ivf_kernel(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int,
    seed_rems: tuple[int, ...] = (_IVF_SEED_REM,),
    with_embedding: bool = False,
) -> tuple[DataFrame, list[tuple[int, int]]]:
    """The IVF assignment kernel: every centroid table's top-nprobe cells
    for every vector, ranked in ONE corpus scan. A numpy mapInPandas
    kernel scores each Arrow batch against each table's broadcast
    centroid matrix through _ivf_rank_cells (bit-identical to the
    declarative window, _ivf_assignments). The tables differ only in
    their centroid matrix (seed remainder ``tbl``), so looping them per
    batch costs the flops of T kernels for the input IO of one. Measured
    on the 60k-vector synth point, the HOF-fold form it replaced spent
    ~2/3 of the query in the 123M interpreted zip_with/aggregate evals.

    Returns (rows, layout). ``layout`` lists (tbl, pr) for each position
    of the flat per-vector cid list: tables in ``seed_rems`` order, ranks
    1..min(nprobe, k) each. An empty centroid pool (a micro corpus with
    no vec_id in its class) has no positions, so it yields no rows,
    exactly like the declarative path and the oracle (r9 ADVICE). The
    rows take one of two shapes:

    - ``with_embedding``: one row per vector, (vec_id, embedding, cids)
      with the flat cid list — the pair builds' shape. They explode it
      JVM-side, so the embedding crosses the Python boundary once per
      vector, not once per (table, rank), and rides the same row into
      the one exchange that feeds the block scorer (r12: the heavy bytes
      move ONCE, guide §8);
    - otherwise one narrow (tbl, vec_id, cid, pr) row per (table, vector,
      rank) — the audits' and tests' shape."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType, LongType, StructField, StructType

    emb = table(spark, sf_dir, "embeddings")
    n = _ivf_corpus_n(spark, sf_dir, emb)
    k = _IVF_K_BASE * (1 << sum(n > t for t in _IVF_K_THRESHOLDS))
    pools = [(rem, _ivf_centroid_bc(spark, sf_dir, emb, k, rem)) for rem in seed_rems]
    live = [bc for _, bc in pools if bc.value.shape[0] > 0]
    layout = [
        (rem, p + 1)
        for rem, bc in pools
        for p in range(min(nprobe, bc.value.shape[0]))
    ]
    pos_tbl = np.array([t for t, _ in layout], dtype=np.int32)
    pos_pr = np.array([p for _, p in layout], dtype=np.int32)
    if with_embedding:
        schema = StructType(
            [
                StructField("vec_id", LongType()),
                StructField("embedding", emb.schema["embedding"].dataType),
                StructField("cids", ArrayType(IntegerType())),
            ]
        )
    else:
        schema = StructType(
            [
                StructField("tbl", IntegerType()),
                StructField("vec_id", LongType()),
                StructField("cid", IntegerType()),
                StructField("pr", IntegerType()),
            ]
        )

    def assign(batches):
        import numpy as np
        import pandas as pd

        # rows are chunked so each (rows × k) score block stays ~64 MiB
        tables = [(C, max(1, 8_000_000 // C.shape[0])) for C in (bc.value for bc in live)]
        for pdf in batches:
            if len(pdf) == 0 or not tables:
                continue
            A = np.array(list(pdf["embedding"]), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            # (rows × positions) cids, columns in layout order
            flat = np.concatenate(
                [
                    np.concatenate(
                        [
                            _ivf_rank_cells(A[s : s + chunk], C, nprobe)
                            for s in range(0, A.shape[0], chunk)
                        ]
                    )
                    for C, chunk in tables
                ],
                axis=1,
            )
            if with_embedding:
                yield pd.DataFrame(
                    {"vec_id": ids, "embedding": pdf["embedding"], "cids": list(flat)}
                )
            else:
                yield pd.DataFrame(
                    {
                        "tbl": np.repeat(pos_tbl, len(ids)),
                        "vec_id": np.tile(ids, len(pos_tbl)),
                        "cid": flat.T.ravel(),
                        "pr": np.repeat(pos_pr, len(ids)),
                    }
                )

    rows = emb.select("vec_id", "embedding").mapInPandas(assign, schema)
    return rows, layout


@register(
    "dedup_embedding_ivf",
    oracle=_ivf_pairs_oracle_sql(),
    doc="Embedding near-dup pairs via an IVF-flat coarse quantizer — the "
    "DATA-ADAPTIVE third tier of the embedding dedup family (primary "
    "sign-LSH / 8-table recall tier / exact). Centroids are a deterministic "
    "corpus sample (every 13th vec_id, first k by id) with k corpus-adaptive "
    "(integer CASE chain, occupancy pinned to the LSH family's (23.4, 46.9] "
    "band, max 131072 cells); every vector joins its top-2 nearest cells "
    "(nprobe=2 multi-assignment), candidates = same-cell pairs under a "
    "per-cell candidacy cap (_IVF_CELL_CAP=192, ~2x the balanced band — "
    "inert on uniform corpora, heavy tails audited by "
    "dedup_embedding_ivf_cell_audit), scored as CELL BLOCKS since r11 "
    "(embeddings attach ONCE to the capped assignment rows and a grouped "
    "Arrow kernel scores each cell's i<j upper triangle in numpy — "
    "_score_blocks; candidate pairs exist only as matrix entries, "
    "never as rows, value-identical to the candidate-first form the "
    "oracle expresses). Why it exists: hyperplane LSH "
    "recall at a fixed probe budget decays exponentially with bucket width "
    "(measured 0.07 at 60k vectors, SCALING_r09_embrecall.md) because the "
    "partition ignores the data; nearest-centroid cells follow the data, so "
    "a near-identical pair co-locates with probability ~1 at ANY corpus "
    "size and only cell-boundary pairs need the second probe. Cost shape: "
    "assignment is one corpus scan against a broadcast O(k) centroid table "
    "(N·k codegen'd dots — the classic IVF build cost), pair join is an "
    "equi-join on cid with bounded occupancy; no corpus self-join, no "
    "probe-mask explosion.",
)
def dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_pair_build(spark, sf_dir)


def _ivf_pair_build(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = _IVF_NPROBE,
    cap: int = _IVF_CELL_CAP,
) -> DataFrame:
    """Shared pair build of the symmetric IVF arms: assignment (Arrow
    kernel, embedding carried in-row — _ivf_kernel) → JVM-side explode to
    one member row per (vector, probed cell) → per-cell candidacy window
    → grouped block scorer REUSING the window's (cid) partitioning.

    Scored as CELL BLOCKS since r11 (r10 VERDICT #5): a grouped Arrow
    kernel scores each cell's i<j upper triangle in numpy (_score_blocks,
    "lt" pairing with every row a member) — candidate pairs exist only as
    matrix entries, never as rows, so BOTH shuffle and Arrow mass are
    O(N·nprobe·emb) regardless of how much pair mass the cells hold.
    r12 plan shape: the member rows cross exactly ONE exchange
    (hash(cid) — the cap window's), which the groupBy-applyInPandas
    scorer reuses; the r11 form's shuffle-hash embedding attach (3
    exchanges of embedding-bearing rows + a localCheckpoint job for a
    single-consumer subtree) is gone. Grouping by (tbl, cid) instead
    would add an Exchange. Catalyst additionally pushes a
    WindowGroupLimit below the exchange, so over-cap members of a
    pathological mega-cell are dropped map-side before they shuffle.
    Value-identity argument as mt4: the per-pair dot folds dimensions in
    the oracle's exact order, duplicate scoring is exact-idempotent, and
    the post-threshold distinct collapses the same duplicates the
    oracle's SELECT DISTINCT does."""
    from pyspark.sql import Window as W

    wide, _ = _ivf_kernel(spark, sf_dir, nprobe, with_embedding=True)
    rows = wide.select("vec_id", "embedding", F.explode("cids").alias("cid"))
    capped = (
        rows.withColumn(
            "rnc", F.row_number().over(W.partitionBy("cid").orderBy("vec_id"))
        )
        .filter(F.col("rnc") <= cap)
        .select("vec_id", "cid", "embedding", F.lit(1).alias("member"))
    )
    return _score_blocks(capped, ("cid",), "lt").distinct()


@register(
    "dedup_embedding_ivf_probe4",
    oracle=_ivf_pairs_oracle_sql(_IVF4_NPROBE, _IVF4_CELL_CAP),
    doc="The IVF family's RECALL arm: dedup_embedding_ivf with nprobe=4 "
    "multi-assignment (cap 384, 2x the widened occupancy band) — "
    "registered because the measured nprobe dial (SCALING_r09_ivfdial.md: "
    "recall 0.053/0.102/0.193 at nprobe 1/2/4 at the 60k point) showed "
    "this arm reaching ~85% of the 8-table LSH recall tier's planted "
    "recall at ~1/8 its box-normalized cost, and 2.7x the primary LSH's "
    "recall at ~half its cost. Same build as the primary IVF arm "
    "(sampled centroids, corpus-adaptive k, Arrow assignment kernel, "
    "exact re-score); only the assignment multiplicity and candidacy cap "
    "differ. Cost shape: assignment unchanged (top-4 extraction is two "
    "more O(k) argmax passes); the in-cell pair mass grows ~nprobe^2 "
    "through the cid equi-join — the priced recall dial, bounded by the "
    "cap and observable via dedup_embedding_ivf_probe4_cell_audit.",
)
def dedup_embedding_ivf_probe4(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_pair_build(spark, sf_dir, nprobe=_IVF4_NPROBE, cap=_IVF4_CELL_CAP)


# --------------------------------------------------------------------------
# ASYMMETRIC home/probe IVF — the recall-frontier arm (r10).
#
# The symmetric arms above catch a pair iff the two top-nprobe cell SETS
# intersect, and their candidate mass grows ~nprobe² (every vector sits in
# nprobe cells, pairs form within each cell). The standard IVF *search*
# formulation (pgvector's ivfflat lists/probes, Jégou et al.'s IVFADC) is
# asymmetric: a database vector lives in exactly ONE cell (its nearest —
# the "home" cell), and a query probes its top-P cells. Re-read as a
# self-join, a pair (a,b) is a candidate iff home(b) ∈ probe_P(a) or
# home(a) ∈ probe_P(b). Candidate mass is N·P·(N/k) — LINEAR in P — vs the
# symmetric arm's N·nprobe²·(N/k)/2, because only the probe side fans out;
# the home side stays single-assignment. Since home(b) is also b's top-1
# probe, the asym-P catch set is contained in the symmetric-nprobe=P catch
# set, but costs ~P·2/P² = 2/P of it: at P=16 the asym arm prices like
# symmetric nprobe≈5.7 while probing 16 cells deep. That bought-recall gap
# is what lets this arm chase the ≥0.5 planted-recall floor the r9 VERDICT
# set, at a candidate mass the 60k/600k points can actually pay.
_IVFA_HOME_CAP = 96  # 2x the single-assignment occupancy band top (46.9)


def _ivf_asym_chain_sql(nprobe: int, seed_rems: tuple[int, ...]) -> str:
    """Oracle prefix for the asymmetric arm: ONE tbl-dimensioned
    par→tbls→sd→cent→ad chain covering every centroid table, with the
    materialized assignment keeping the probe rank ``pr`` so the home side
    (pr=1) and the probe side (pr<=nprobe) derive from ONE scored ranking —
    the SQL twin of _ivf_kernel.

    r12 restructure (r11 VERDICT #2): the previous generator UNROLLED one
    copy of this chain per table — ~8 plan operators × 12 tables for mt12.
    DuckDB reserves operator buffers per thread, so on the driver's
    shared-connection, memory-squeezed harness (2GB, default threads = 32
    here) the ~90-operator mt12 plans ran at the budget's edge and
    bad_alloc'd nondeterministically — the exact r11 failure mode, now
    pinned by tests/test_oracle_budget.py. The tables differ ONLY in their
    seed remainder, so a ``tbls(tbl, rem)`` VALUES relation turns the T
    copies into one chain whose windows partition by (tbl, ...) — operator
    count (and with it the reservation footprint) drops ~T-fold, values
    are branch-for-branch identical (disjoint rem classes ⇒ per-tbl
    ROW_NUMBERs and rankings match the per-branch ones exactly)."""
    d = dot_sql("e.embedding", "c.cemb", EMB_DIM, False)
    vals = ", ".join(f"({i}, {rem})" for i, rem in enumerate(seed_rems))
    return f"""par AS (SELECT {_ivf_k_case('COUNT(*)')} AS k FROM embeddings),
tbls AS (SELECT * FROM (VALUES {vals}) AS v(tbl, rem)),
sd AS (SELECT t.tbl, e.vec_id, e.embedding,
              ROW_NUMBER() OVER (PARTITION BY t.tbl ORDER BY e.vec_id) AS rn
       FROM embeddings e JOIN tbls t ON e.vec_id % {_IVF_SEED_MOD} = t.rem),
cent AS (SELECT tbl, rn AS cid, embedding AS cemb FROM sd, par WHERE rn <= k),
ad AS (SELECT e.vec_id, c.tbl, c.cid,
              ROW_NUMBER() OVER (PARTITION BY c.tbl, e.vec_id
                                 ORDER BY {d} DESC, c.cid) AS pr
       FROM embeddings e CROSS JOIN cent c),
asgr AS MATERIALIZED (SELECT tbl, vec_id, cid, pr FROM ad WHERE pr <= {nprobe})"""


def _ivf_asym_tables_sql(
    nprobe: int,
    home_cap: int,
    probe_cap: int,
    seed_rems: tuple[int, ...],
) -> tuple[str, str]:
    """(cte_block, candidate_select): the tbl-dimensioned chain + capped
    home/probe windows, and the single candidate select joining them on
    (tbl, cid) — the shared skeleton of the pair oracle and the recall-eval
    oracle. Replaces the per-table UNION ALL (see _ivf_asym_chain_sql)."""
    ctes = (
        _ivf_asym_chain_sql(nprobe, seed_rems)
        + """,
hc AS (SELECT tbl, vec_id, cid,
              ROW_NUMBER() OVER (PARTITION BY tbl, cid ORDER BY vec_id) AS rnh
       FROM asgr WHERE pr = 1),
pc AS (SELECT tbl, vec_id, cid,
              ROW_NUMBER() OVER (PARTITION BY tbl, cid ORDER BY vec_id) AS rnp
       FROM asgr)"""
    )
    select = f"""SELECT LEAST(p.vec_id, h.vec_id) AS a_id,
         GREATEST(p.vec_id, h.vec_id) AS b_id
  FROM pc p JOIN hc h ON p.tbl = h.tbl AND p.cid = h.cid AND p.vec_id <> h.vec_id
  WHERE p.rnp <= {probe_cap} AND h.rnh <= {home_cap}"""
    return ctes, select


def _ivf_asym_pairs_oracle_sql(
    nprobe: int,
    home_cap: int,
    probe_cap: int,
    seed_rems: tuple[int, ...] = (_IVF_SEED_REM,),
) -> str:
    ctes, union = _ivf_asym_tables_sql(nprobe, home_cap, probe_cap, seed_rems)
    return f"""
WITH {ctes},
pairs AS (SELECT DISTINCT a_id, b_id FROM ({union})),
scored AS (
  SELECT p.a_id, p.b_id,
         {dot_sql('ea.embedding', 'eb.embedding', EMB_DIM, False)} AS cos_sim
  FROM pairs p
  JOIN embeddings ea ON ea.vec_id = p.a_id
  JOIN embeddings eb ON eb.vec_id = p.b_id)
SELECT DISTINCT a_id, b_id, cos_sim FROM scored WHERE cos_sim >= {_EMB_COS_THRESHOLD}
"""


def _ivf_asym_pair_build(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int,
    home_cap: int = _IVFA_HOME_CAP,
    probe_cap: int | None = None,
    seed_rems: tuple[int, ...] = (_IVF_SEED_REM,),
) -> DataFrame:
    """Asymmetric pair build, optionally multi-table, scored as CELL
    BLOCKS: ONE fused corpus scan ranks every table's assignments
    (_ivf_kernel — the tables differ only in their broadcast centroid
    matrix, so separate kernels would pay T corpus scans for nothing) and
    EMITS the embedding in-row; ONE (tbl, cid) exchange
    feeds a single window that derives BOTH candidacy ranks (rnp =
    row_number over all members, rhc = running count of home members —
    identical to the former two-window rnh/rnp pair because vec_id is
    unique within a cell), the role tags explode map-side (home =
    member 1, probe = 0; a vector can be both), and a grouped Arrow
    kernel (_score_blocks, "ne" pairing) scores each (tbl, cid) cell's
    probe×home block IN KERNEL, reusing the window's partitioning —
    candidate pairs exist only as numpy matrix entries, never as rows.
    Only the thresholded SURVIVORS (~0.2% yield) reach the final
    distinct. Three generations of shape fixes, the first two measured
    at 600k: the candidate-first form (r10) shuffled ~700M wide rows for
    the second embedding attach (~100+ GB — exceeded the local disk
    budget outright); the in-cell JOIN form that replaced it shuffled
    only the side rows but still MATERIALIZED every candidate as a
    ~1.1 KB two-embedding Arrow row into Python (~700 GB of Arrow
    traffic at the r10 dials); the r11 cell-block form capped shuffle
    and Arrow mass at O(N·(1+P)·emb) per table but still moved the
    embedding bytes through a separate shuffle-hash attach plus two
    narrow window exchanges and a checkpoint job. r12: the embedding
    rides the kernel output, so the heavy bytes cross exactly ONE
    exchange (guide §8), the two windows collapse into one, and the
    single-consumer checkpoint is gone. Value-identical: the per-pair
    dot folds dimensions in the same exact order (acc[i,j] accumulates
    d=0..63 in sequence), duplicate scoring is exact-idempotent,
    orientation is normalized after scoring (dot is symmetric), and the
    oracle applies the same SELECT DISTINCT after its threshold. Recall
    composes across tables like the multi-table LSH's 1-(1-r)^T (tables
    are quasi-independent because their centroid POOLS are disjoint id
    classes mod _IVF_SEED_MOD); the measured 60k grid
    (SCALING_r10_ivfasym.md) shows the multi-table direction dominating
    both deeper probing and coarser cells at equal candidate mass."""
    from pyspark.sql import Window as W

    if probe_cap is None:
        probe_cap = _IVFA_HOME_CAP * nprobe
    wide, layout = _ivf_kernel(spark, sf_dir, nprobe, seed_rems, with_embedding=True)
    # (tbl, pr) of each flat cid position, a compile-time constant of the
    # layout, derived JVM-side from posexplode's index
    tbl_arr = F.array(*[F.lit(t) for t, _ in layout])
    pr_arr = F.array(*[F.lit(p) for _, p in layout])
    rows = wide.select(
        "vec_id", "embedding", F.posexplode("cids").alias("pos", "cid")
    ).select(
        "vec_id",
        "embedding",
        F.element_at(tbl_arr, F.col("pos") + 1).alias("tbl"),
        F.element_at(pr_arr, F.col("pos") + 1).alias("pr"),
        "cid",
    )
    # ONE window pass per (table, cell): rnp ranks every member (the probe
    # candidacy), the running home-count ranks the pr=1 subset (the home
    # candidacy — rank-within-subset == row_number over the filtered subset
    # because members are unique per cell); member 1 = home (cap 96),
    # member 0 = probe (cap 768), a vector can carry both
    w = W.partitionBy("tbl", "cid").orderBy("vec_id")
    ranked = rows.withColumn("rnp", F.row_number().over(w)).withColumn(
        "rhc", F.sum(F.when(F.col("pr") == 1, 1).otherwise(0)).over(w)
    )
    tagged = ranked.select(
        "tbl",
        "cid",
        "vec_id",
        "embedding",
        F.explode(
            F.array_compact(
                F.array(
                    F.when((F.col("pr") == 1) & (F.col("rhc") <= home_cap), 1),
                    F.when(F.col("rnp") <= probe_cap, 0),
                )
            )
        ).alias("member"),
    )
    # collapse cross-direction / cross-cell / cross-table duplicates on the
    # thresholded survivor set (cos_sim deterministic per pair → 3-column
    # distinct == (a_id, b_id) distinct)
    return _score_blocks(tagged, ("tbl", "cid"), "ne").distinct()


# Registered multi-table dials: the measured 60k design grid
# (SCALING_r10_ivfasym.md) compared three ways to spend candidate mass —
# deeper single-table probing (P=32: recall 0.386 at 56M ordered rows),
# coarser cells (k/4, P=16: 0.421 at 113M), and multiple independent
# centroid tables — and the tables won at every equal-mass point:
# T=4 × P=8 = 0.565 recall at 57M, T=4 × P=16 = 0.715 at 113M. Registered
# arm: T=4, P=8 — the first embedding-dedup arm to clear the r9 VERDICT's
# >= 0.5 planted-recall floor at the 60k point, at roughly the candidate
# mass the single-table P=32 dial spent to reach 0.386.
_IVFMT_NPROBE = 8
_IVFMT_REMS = (3, 1, 5, 7)  # disjoint centroid pools: id classes mod 13
_IVFMT_PROBE_CAP = _IVFA_HOME_CAP * _IVFMT_NPROBE  # 768 = 2x the P·occ band


@register(
    "dedup_embedding_ivf_mt4",
    oracle=_ivf_asym_pairs_oracle_sql(
        _IVFMT_NPROBE, _IVFA_HOME_CAP, _IVFMT_PROBE_CAP, _IVFMT_REMS
    ),
    doc="The embedding-dedup family's RECALL-FLOOR arm (r10): multi-table "
    "ASYMMETRIC home/probe IVF — 4 independent coarse quantizers (disjoint "
    "deterministic centroid pools, vec_id ≡ 3/1/5/7 mod 13), each searched "
    "the way pgvector's ivfflat and Jégou et al.'s IVFADC search: every "
    "vector LIVES in exactly one home cell (its nearest centroid, capped "
    "at 96/cell) and PROBES its top-8 cells (capped 768/cell); a pair is a "
    "candidate iff either member's home cell is in the other's probe list, "
    "in any table. Candidate mass is N·P·occupancy per table — LINEAR in "
    "probe depth, vs the symmetric arms' quadratic nprobe² — and recall "
    "composes across tables ~1-(1-r)^T. Measured at the planted points "
    "(SCALING_r10_ivfmt.md): recall 0.5648 at 60k (vs the symmetric probe4 "
    "arm's 0.193 and the 8-table LSH recall tier's 0.227) and 0.2976 at "
    "600k (vs 0.026) — the first registered arm over the r9 VERDICT's 0.5 "
    "floor. Execution shape (cell blocks since r11): ONE fused corpus "
    "scan ranks all 4 tables' assignments (the tables differ only in "
    "their broadcast centroid matrix), per-(tbl,cid) capped windows "
    "role-tag the home/probe sides, ONE embedding attach, and a grouped "
    "Arrow kernel scores each cell's probe×home dot block in numpy (no "
    "false positives possible) — candidate pairs exist only as matrix "
    "entries, so shuffle AND Arrow mass are O(N·P·emb), independent of "
    "candidate mass (the candidate-first form's ~700M-wide-row attach "
    "exceeded the local disk budget at 600k).",
)
def dedup_embedding_ivf_mt4(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_asym_pair_build(
        spark, sf_dir, nprobe=_IVFMT_NPROBE, seed_rems=_IVFMT_REMS
    )


def _ivf_mt_cell_audit_oracle_sql(
    nprobe: int, home_cap: int, probe_cap: int, seed_rems: tuple[int, ...]
) -> str:
    # same tbl-dimensioned restructure as _ivf_asym_chain_sql: one chain +
    # two (tbl, cid) aggregates + per-tbl folds, LEFT-joined from tbls so an
    # empty centroid pool still yields its audit row (COUNT 0 / NULL maxes,
    # exactly what the old per-table scalar subqueries returned)
    return f"""WITH {_ivf_asym_chain_sql(nprobe, seed_rems)},
hs AS (SELECT tbl, cid, COUNT(*) AS sz FROM asgr WHERE pr = 1 GROUP BY tbl, cid),
ps AS (SELECT tbl, cid, COUNT(*) AS sz FROM asgr GROUP BY tbl, cid),
ha AS (SELECT tbl, CAST(COUNT(*) AS BIGINT) AS n_home_cells,
              CAST(MAX(sz) AS BIGINT) AS max_home_cell,
              CAST(SUM(CASE WHEN sz > {home_cap} THEN sz - {home_cap} ELSE 0 END) AS BIGINT) AS home_dropped
       FROM hs GROUP BY tbl),
pa AS (SELECT tbl, CAST(MAX(sz) AS BIGINT) AS max_probe_cell,
              CAST(SUM(CASE WHEN sz > {probe_cap} THEN sz - {probe_cap} ELSE 0 END) AS BIGINT) AS probe_dropped
       FROM ps GROUP BY tbl)
SELECT CAST(t.rem AS BIGINT) AS seed_rem,
       (SELECT CAST(k AS BIGINT) FROM par) AS k,
       CAST(COALESCE(ha.n_home_cells, 0) AS BIGINT) AS n_home_cells,
       ha.max_home_cell, ha.home_dropped, pa.max_probe_cell, pa.probe_dropped
FROM tbls t LEFT JOIN ha ON ha.tbl = t.tbl LEFT JOIN pa ON pa.tbl = t.tbl"""


@register(
    "dedup_embedding_ivf_mt4_cell_audit",
    oracle=_ivf_mt_cell_audit_oracle_sql(
        _IVFMT_NPROBE, _IVFA_HOME_CAP, _IVFMT_PROBE_CAP, _IVFMT_REMS
    ),
    doc="Candidacy-cap observability for dedup_embedding_ivf_mt4 — one row "
    "per centroid table (seed_rem): the dialed k, how many cells hold home "
    "members, the largest home cell and probe list, and exactly how many "
    "members each cap excluded from pair emission. Nonzero home_dropped "
    "means database vectors silently left the index for that cell (the "
    "heavy-tail signal a scorecard must see); nonzero probe_dropped only "
    "narrows probe depth on the hot cell. Plan: the shared ranked "
    "assignment per table, two cid groupBys, bounded global folds — no "
    "pairs, no embeddings shuffle.",
)
def dedup_embedding_ivf_mt4_cell_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _ivf_mt_cell_audit_df(
        spark, sf_dir, _IVFMT_NPROBE, _IVFA_HOME_CAP, _IVFMT_PROBE_CAP,
        _IVFMT_REMS,
    )


def _ivf_mt_cell_audit_df(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int,
    home_cap: int,
    probe_cap: int,
    seed_rems: tuple[int, ...],
) -> DataFrame:
    """Shared multi-table cell-audit body (one row per centroid table) —
    the Spark twin of _ivf_mt_cell_audit_oracle_sql at any dial."""
    asg, _ = _ivf_kernel(spark, sf_dir, nprobe, seed_rems)
    # the fused ranked rows feed two aggregate branches: checkpoint once so
    # the ONE-corpus-scan kernel runs once, not per branch
    asg = asg.localCheckpoint(eager=False)
    over_h = F.col("sz") > home_cap
    over_p = F.col("sz") > probe_cap
    stats_h = (
        asg.filter(F.col("pr") == 1)
        .groupBy("tbl", "cid")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy("tbl")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_home_cells"),
            F.max("sz").cast("bigint").alias("max_home_cell"),
            F.sum(F.when(over_h, F.col("sz") - home_cap).otherwise(0))
            .cast("bigint")
            .alias("home_dropped"),
        )
    )
    stats_p = (
        asg.groupBy("tbl", "cid")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy("tbl")
        .agg(
            F.max("sz").cast("bigint").alias("max_probe_cell"),
            F.sum(F.when(over_p, F.col("sz") - probe_cap).otherwise(0))
            .cast("bigint")
            .alias("probe_dropped"),
        )
    )
    # left-join from the rem list so an empty centroid pool still yields
    # its audit row (COUNT 0 / NULL maxes — exactly the oracle's scalar
    # subqueries over an empty asgr)
    rems_df = spark.createDataFrame(
        [(int(r),) for r in seed_rems], "tbl int"
    )
    return (
        rems_df.join(stats_h, "tbl", "left")
        .join(stats_p, "tbl", "left")
        .crossJoin(F.broadcast(_ivf_par(table(spark, sf_dir, "embeddings"))))
        .select(
            F.col("tbl").cast("bigint").alias("seed_rem"),
            F.col("k").cast("bigint").alias("k"),
            F.coalesce("n_home_cells", F.lit(0))
            .cast("bigint")
            .alias("n_home_cells"),
            "max_home_cell",
            "home_dropped",
            "max_probe_cell",
            "probe_dropped",
        )
    )


def _ivf_cell_audit_oracle_sql(
    nprobe: int = _IVF_NPROBE, cap: int = _IVF_CELL_CAP
) -> str:
    return f"""
WITH {_ivf_chain_sql(nprobe)},
cs AS (SELECT cid, COUNT(*) AS sz FROM asg GROUP BY cid)
SELECT (SELECT CAST(k AS BIGINT) FROM par) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(MAX(sz) AS BIGINT) AS max_cell,
       CAST(SUM(CASE WHEN sz > {cap} THEN 1 ELSE 0 END) AS BIGINT) AS n_oversized,
       CAST(SUM(CASE WHEN sz > {cap} THEN sz - {cap} ELSE 0 END) AS BIGINT) AS n_dropped_members
FROM cs
"""


def _ivf_cell_audit_df(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = _IVF_NPROBE,
    cap: int = _IVF_CELL_CAP,
) -> DataFrame:
    asg, _ = _ivf_kernel(spark, sf_dir, nprobe)
    cs = asg.groupBy("cid").agg(F.count(F.lit(1)).alias("sz"))
    over = F.col("sz") > cap
    return (
        cs.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.max("sz").cast("bigint").alias("max_cell"),
            F.sum(F.when(over, 1).otherwise(0)).cast("bigint").alias("n_oversized"),
            F.sum(F.when(over, F.col("sz") - cap).otherwise(0))
            .cast("bigint")
            .alias("n_dropped_members"),
        )
        .crossJoin(F.broadcast(_ivf_par(table(spark, sf_dir, "embeddings"))))
        .select(
            F.col("k").cast("bigint").alias("k"),
            "n_cells",
            "max_cell",
            "n_oversized",
            "n_dropped_members",
        )
    )


@register(
    "dedup_embedding_ivf_cell_audit",
    oracle=_ivf_cell_audit_oracle_sql(),
    doc="Candidacy-cap observability for dedup_embedding_ivf — the "
    "dedup_embedding_bucket_audit contract for the IVF tier: the dialed "
    "cell count k, how many cells received members, the largest cell, and "
    "exactly how many members the _IVF_CELL_CAP candidacy window excluded "
    "from pair emission (zero on a balanced corpus — the cap is ~2x the "
    "designed occupancy band, so any nonzero here is the heavy-tail signal "
    "a scorecard must see before trusting the pair list as complete). "
    "Plan: the shared assignment build (one corpus scan + broadcast "
    "centroids + WindowGroupLimit top-2), one cid groupBy, one bounded "
    "global fold — no pairs, no embeddings shuffle.",
)
def dedup_embedding_ivf_cell_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_cell_audit_df(spark, sf_dir)


@register(
    "dedup_embedding_ivf_probe4_cell_audit",
    oracle=_ivf_cell_audit_oracle_sql(_IVF4_NPROBE, _IVF4_CELL_CAP),
    doc="Candidacy-cap observability for the nprobe=4 recall arm "
    "(dedup_embedding_ivf_probe4) — same single-row contract as "
    "dedup_embedding_ivf_cell_audit against the 4-assignment cells and "
    "the 384 cap. The cap brushes the widened occupancy band's top "
    "(4·46.9 = 187.6 balanced, 2x headroom), so nonzero n_dropped_members "
    "here is the first signal the recall arm is shedding pairs on a "
    "clustered corpus.",
)
def dedup_embedding_ivf_probe4_cell_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _ivf_cell_audit_df(spark, sf_dir, nprobe=_IVF4_NPROBE, cap=_IVF4_CELL_CAP)


@register(
    "dedup_embedding_ivf_recall_eval",
    oracle=f"""
WITH {_ivf_chain_sql()},
cpd AS (SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY cid ORDER BY vec_id) AS rnc
        FROM asg),
pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM cpd a JOIN cpd b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE a.rnc <= {_IVF_CELL_CAP} AND b.rnc <= {_IVF_CELL_CAP}),
ivf AS MATERIALIZED (
  SELECT DISTINCT p.a_id, p.b_id
  FROM pairs p
  JOIN embeddings ea ON ea.vec_id = p.a_id
  JOIN embeddings eb ON eb.vec_id = p.b_id
  WHERE {dot_sql('ea.embedding', 'eb.embedding', EMB_DIM, False)} >= {_EMB_COS_THRESHOLD}),
ex AS MATERIALIZED (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {dot_sql('a.embedding', 'b.embedding', EMB_DIM, False)} >= {_EMB_COS_THRESHOLD})
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ex) AS n_exact,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM ivf) AS n_ivf,
       CAST(COUNT(*) AS BIGINT) AS n_hit,
       CAST(COUNT(*) AS DOUBLE) / NULLIF((SELECT COUNT(*) FROM ex), 0) AS recall
FROM ivf JOIN ex USING (a_id, b_id)
""",
    doc="MEASURED recall of dedup_embedding_ivf against the exact arm, as "
    "an oracle-gated query: |IVF pairs ∩ exact pairs| / |exact pairs| at "
    "the contract threshold, one row (n_exact, n_ivf, n_hit, recall). The "
    "IVF twin of test_embedding_lsh_recall, promoted into the registry so "
    "the recall claim is hash-verified against DuckDB every window, not "
    "just asserted in pytest. Contains the exact all-pairs arm, so it is "
    "quadratic BY CONTRACT like dedup_embedding_cosine_exact — an eval to "
    "run at fixture/sample scale, not a production operator; at scale the "
    "empirical evidence lives in the scaleprobe rows (SCALING_r09). n_ivf "
    "counts the IVF tier's full output; n_hit its overlap with truth (the "
    "exact re-score makes false positives impossible, so n_hit = n_ivf "
    "whenever both engines agree — kept as separate columns so a "
    "divergence would fail the hash loudly). recall is a single DOUBLE "
    "division of two exact integers (deterministic), NULL-guarded on an "
    "empty truth set.",
)
def dedup_embedding_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_eval_df(
        spark, sf_dir, dedup_embedding_ivf(spark, sf_dir)
    )


def _recall_eval_df(spark: SparkSession, sf_dir: str, iv: DataFrame) -> DataFrame:
    """Shared single-row recall contract of the IVF eval queries:
    (n_exact, n_ivf, n_hit, recall) of an approximate pair set against the
    exact all-pairs arm — quadratic BY CONTRACT (fixture/sample scale).

    r13 shape: ONE full outer join of the two (distinct-by-construction)
    pair sets + one global aggregate. The r9-r12 form computed three
    separate aggregates (|ex|, |iv|, |ex ∩ iv|) and crossJoined the 1-row
    results — but Spark plans, it does not CSE across branches, so the
    exact quadratic arm AND the full IVF candidate build each executed
    TWICE per eval (count branch + hit-join branch; measured 26-35 s warm
    at sf0.1). With both sides referenced once and the exact arm on the
    Arrow kernel (_exact_pair_rows), the eval costs one IVF build + one
    kernel pass + one (a_id, b_id) shuffle of bounded pair rows. Counts
    are coalesced to 0 so the empty-truth corner keeps the oracle's
    values (0, 0, 0, NULL)."""
    iv = iv.select("a_id", "b_id")
    ex = _exact_pair_rows(spark, sf_dir).select("a_id", "b_id")
    ev = (
        ex.withColumn("is_ex", F.lit(1))
        .join(iv.withColumn("is_iv", F.lit(1)), ["a_id", "b_id"], "full")
        .select(
            F.coalesce("is_ex", F.lit(0)).alias("is_ex"),
            F.coalesce("is_iv", F.lit(0)).alias("is_iv"),
        )
    )
    return ev.agg(
        F.coalesce(F.sum("is_ex"), F.lit(0)).cast("bigint").alias("n_exact"),
        F.coalesce(F.sum("is_iv"), F.lit(0)).cast("bigint").alias("n_ivf"),
        F.coalesce(F.sum(F.col("is_ex") * F.col("is_iv")), F.lit(0))
        .cast("bigint")
        .alias("n_hit"),
        (
            F.coalesce(F.sum(F.col("is_ex") * F.col("is_iv")), F.lit(0)).cast(
                "double"
            )
            / F.expr(
                "nullif(coalesce(sum(is_ex), 0), 0)"
            )
        ).alias("recall"),
    )


def _ivf_mt_recall_oracle_sql(
    nprobe: int = _IVFMT_NPROBE,
    home_cap: int = _IVFA_HOME_CAP,
    probe_cap: int = _IVFMT_PROBE_CAP,
    seed_rems: tuple[int, ...] = _IVFMT_REMS,
) -> str:
    ctes, union = _ivf_asym_tables_sql(nprobe, home_cap, probe_cap, seed_rems)
    # ivf and ex are each referenced TWICE (a COUNT scalar subquery + the
    # hit join) — without MATERIALIZED, DuckDB inlines and re-evaluates
    # the full multi-chain candidate build and the quadratic exact arm
    # per reference (measured 65-110 s vs 12-23 s at sf0.01, r12), and
    # the doubled transient footprint is exactly what squeezed the
    # driver's shared-connection window in r11. Values are unchanged.
    return f"""
WITH {ctes},
pairs AS MATERIALIZED (SELECT DISTINCT a_id, b_id FROM ({union})),
ivf AS MATERIALIZED (
  SELECT DISTINCT p.a_id, p.b_id
  FROM pairs p
  JOIN embeddings ea ON ea.vec_id = p.a_id
  JOIN embeddings eb ON eb.vec_id = p.b_id
  WHERE {dot_sql('ea.embedding', 'eb.embedding', EMB_DIM, False)} >= {_EMB_COS_THRESHOLD}),
ex AS MATERIALIZED (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {dot_sql('a.embedding', 'b.embedding', EMB_DIM, False)} >= {_EMB_COS_THRESHOLD})
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ex) AS n_exact,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM ivf) AS n_ivf,
       CAST(COUNT(*) AS BIGINT) AS n_hit,
       CAST(COUNT(*) AS DOUBLE) / NULLIF((SELECT COUNT(*) FROM ex), 0) AS recall
FROM ivf JOIN ex USING (a_id, b_id)
"""


@register(
    "dedup_embedding_ivf_mt4_recall_eval",
    oracle=_ivf_mt_recall_oracle_sql(),
    doc="MEASURED recall of dedup_embedding_ivf_mt4 against the exact arm "
    "— the mt4 twin of dedup_embedding_ivf_recall_eval, registered so the "
    "recall-floor arm's recall claim is hash-verified against DuckDB every "
    "window, not just asserted in pytest and the scaleprobe tables. "
    "Contains the exact all-pairs arm, so quadratic BY CONTRACT — an eval "
    "for fixture/sample scale; the 60k/600k evidence lives in "
    "SCALING_r10_ivfasym.md. Same single-row (n_exact, n_ivf, n_hit, "
    "recall) contract and NULL-guarded division as the primary eval.",
)
def dedup_embedding_ivf_mt4_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _recall_eval_df(
        spark, sf_dir, dedup_embedding_ivf_mt4(spark, sf_dir)
    )


# The 600k-FLOOR arm (r11, r10 VERDICT #2): same asymmetric home/probe
# build as mt4, twelve disjoint centroid pools instead of four. Dial chosen
# from the 600k design grid (SCALING_r11_ivfgrid600.md, replica validated
# by reproducing mt4's Spark-measured 600k point 0.2976 exactly): per-table
# recall at 600k is 0.0867 at P=8, tables compose ~1-(1-r)^T, and at equal
# candidate mass MORE TABLES dominate DEEPER PROBES at this point too
# (T=12·P=8 → 0.6059 at 2117M ordered rows vs T=6·P=16 → 0.5326 at 2113M)
# — so the floor rung is the T dial, not P. Twelve pools = the 12 rem
# classes mod 13 beyond coverage of the grid's incremental-union order;
# the 13th class is left unused (a 13-pool arm would make every corpus
# vector a seed candidate for some pool).
_IVFMT12_REMS = (3, 1, 5, 7, 9, 11, 0, 2, 4, 6, 8, 10)


@register(
    "dedup_embedding_ivf_mt12",
    oracle=_ivf_asym_pairs_oracle_sql(
        _IVFMT_NPROBE, _IVFA_HOME_CAP, _IVFMT_PROBE_CAP, _IVFMT12_REMS
    ),
    doc="The embedding-dedup family's 600k-RECALL-FLOOR arm (r11): "
    "multi-table asymmetric home/probe IVF with TWELVE independent coarse "
    "quantizers (disjoint deterministic centroid pools, the 12 vec_id "
    "classes mod 13 of SCALING_r11_ivfgrid600.md's union order) at the mt4 "
    "dials (P=8, caps 96/768). Why 12 tables: the r10 VERDICT set a 600k "
    "floor of planted recall >= 0.5 where mt4 sits at 0.2976; the 600k "
    "design grid (replica validated by reproducing that exact number) "
    "shows per-table recall 0.0867 composing ~1-(1-r)^T across disjoint "
    "pools — T=12 reaches 0.6059, and at equal candidate mass more tables "
    "dominate deeper probes (T=12 P=8: 0.6059 @ 2117M vs T=6 P=16: 0.5326 "
    "@ 2113M), so T is the floor dial. Execution shape is mt4's cell-block "
    "form at 3x the table count: ONE fused corpus scan ranks all 12 "
    "tables' assignments, per-(tbl,cid) capped windows role-tag the sides, "
    "ONE embedding attach, grouped Arrow kernel per cell — shuffle and "
    "Arrow mass O(T·N·P·emb), independent of the tripled candidate mass. "
    "Measured through this registered query: SCALING_r11_ivfmt12.md.",
)
def dedup_embedding_ivf_mt12(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_asym_pair_build(
        spark, sf_dir, nprobe=_IVFMT_NPROBE, seed_rems=_IVFMT12_REMS
    )


@register(
    "dedup_embedding_ivf_mt12_cell_audit",
    oracle=_ivf_mt_cell_audit_oracle_sql(
        _IVFMT_NPROBE, _IVFA_HOME_CAP, _IVFMT_PROBE_CAP, _IVFMT12_REMS
    ),
    doc="Candidacy-cap observability for dedup_embedding_ivf_mt12 — the "
    "dedup_embedding_ivf_mt4_cell_audit contract over all twelve centroid "
    "tables: per table the dialed k, home-cell count, largest home cell "
    "and probe list, and exactly how many members each cap excluded. "
    "Nonzero home_dropped means database vectors silently left that "
    "table's index (the heavy-tail scorecard signal). Plan: the shared "
    "fused ranked assignment, two (tbl,cid) groupBys, bounded folds — no "
    "pairs, no embeddings shuffle.",
)
def dedup_embedding_ivf_mt12_cell_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _ivf_mt_cell_audit_df(
        spark, sf_dir, _IVFMT_NPROBE, _IVFA_HOME_CAP, _IVFMT_PROBE_CAP,
        _IVFMT12_REMS,
    )


@register(
    "dedup_embedding_ivf_mt12_recall_eval",
    oracle=_ivf_mt_recall_oracle_sql(
        _IVFMT_NPROBE, _IVFA_HOME_CAP, _IVFMT_PROBE_CAP, _IVFMT12_REMS
    ),
    doc="MEASURED recall of dedup_embedding_ivf_mt12 against the exact arm "
    "— the same hash-verified single-row (n_exact, n_ivf, n_hit, recall) "
    "contract as the mt4 eval, so the 600k-floor arm's recall claim is "
    "checked against DuckDB every window. Contains the exact all-pairs "
    "arm, so quadratic BY CONTRACT (fixture/sample scale); the 60k/600k "
    "evidence lives in SCALING_r11_ivfmt12.md.",
)
def dedup_embedding_ivf_mt12_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _recall_eval_df(
        spark, sf_dir, dedup_embedding_ivf_mt12(spark, sf_dir)
    )


# ------------------------------------------ incremental embedding ingest --
# The near-dup twin of pipeline_incremental_dedup's exact-hash ingest: a
# new vector batch checked against the EXISTING corpus index without ever
# self-joining the corpus. The batch is a deterministic fixture slice
# (vec_id % 17 = 5, ~6% of the table) standing in for a daily ingest delta.
_INC_NEW_FILTER = "vec_id % 17 = 5"


def _emb_inc_oracle_sql() -> str:
    masks = _adapt_masks_case(
        lambda ms: "[" + ", ".join(map(str, ms)) + "]",
        lambda msg: f"error('{msg}')",
    )
    rns = ", ".join(
        f"ROW_NUMBER() OVER (PARTITION BY k{t} ORDER BY vec_id) AS rn{t}"
        for t in range(len(_EMB_LSH_OFFSETS))
    )
    occs = ",\n".join(
        f"occ{t} AS (SELECT k{t} AS key, COUNT(*) AS c FROM oldb GROUP BY k{t})"
        for t in range(len(_EMB_LSH_OFFSETS))
    )
    joins = []
    for t in range(len(_EMB_LSH_OFFSETS)):
        joins.append(
            f"""SELECT n.vec_id AS new_id, o.vec_id AS old_id,
       {dot_sql('n.embedding', 'o.embedding', EMB_DIM, False)} AS cos_sim
  FROM (SELECT bk.vec_id, bk.embedding, xor(bk.k{t}, pm.m) AS pk
          FROM newb bk LEFT JOIN occ{t} ON bk.k{t} = occ{t}.key, pm
         WHERE pm.m = 0 OR bk.bits <= 5 OR COALESCE(occ{t}.c, 0) <= {_EMB_PROBE_OCC_BOUND}) n
  JOIN oldb o ON n.pk = o.k{t} AND (o.bits <= 5 OR o.rn{t} <= {_EMB_BUCKET_CAP})"""
        )
    pair_union = "\n  UNION ALL\n".join(joins)
    return f"""
WITH {_adapt_bk_sql()},
newb AS (SELECT * FROM bk WHERE {_INC_NEW_FILTER}),
oldb AS MATERIALIZED (SELECT *, {rns} FROM bk WHERE NOT ({_INC_NEW_FILTER})),
pm AS (SELECT unnest({masks}) AS m FROM par),
{occs},
pairs AS (
  {pair_union}
)
SELECT DISTINCT new_id, old_id, cos_sim FROM pairs WHERE cos_sim >= {_EMB_COS_THRESHOLD}
"""


@register(
    "dedup_embedding_incremental",
    oracle=_emb_inc_oracle_sql(),
    doc="Incremental-ingest NEAR-DUP dedup for the vector channel — "
    "pipeline_incremental_dedup's shape applied to embeddings: a new batch "
    "(deterministic fixture slice, ~6% of the table) is LSH-probed against "
    "the EXISTING corpus index and reports (new_id, old_id, cos_sim >= "
    f"{_EMB_COS_THRESHOLD}) — the 'is this incoming vector already in the "
    "index' decision a daily crawl ingest makes before admitting data. The "
    "shape is the point: the corpus is NEVER self-joined or re-shuffled to "
    "admit new vectors — the asymmetric candidate join explodes probe "
    "masks on the (small) batch side only, the corpus side contributes "
    "its already-capped bucket members (_EMB_BUCKET_CAP, corpus-only "
    "row_number), and probe traffic from the batch is gated by CORPUS "
    "bucket occupancy (_EMB_PROBE_OCC_BOUND; own bucket always probed) — "
    "at 100 TB the corpus side reads a materialized signature store "
    "partitioned by bucket key while the batch streams through it. Same "
    "adaptive width chain, probe policy, and Arrow re-score tail as "
    "dedup_embedding_cosine_lsh; both dials inert at bits <= 5.",
)
def dedup_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _incremental_lsh_build(spark, sf_dir)


def _incremental_lsh_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13 grouped-scorer shape of the asymmetric ingest probe (the
    _adaptive_lsh_build transplant with home/probe roles instead of the
    i<j triangle — _score_blocks' "directed" pairing). One linear
    pipeline; the 4 per-table corpus-occupancy groupBys + 4 LEFT joins
    that gated the batch side are replaced by ONE (tbl, key) window over
    old+new rows together: corpus occupancy = windowed count of old-row
    indicators, corpus candidacy rank = their RUNNING count at an old
    row's position (== ROW_NUMBER over old rows only, because vec_id is
    unique — the r12 IVF 'rhc' equivalence), and a new row reads its own
    bucket's corpus occupancy from the same window (absent corpus rows →
    0 → probing stays free, the old COALESCE(occ, 0) semantics). Old rows
    emit their member row only (the corpus never probes); new rows emit
    gated probe masks only (the batch never receives)."""
    from pyspark.sql import Window as W

    emb, bk = _adapt_signature_rows(
        spark, sf_dir, with_embedding=True
    )
    probe_masks = F.expr(
        _adapt_masks_case(
            lambda ms: "array(" + ", ".join(map(str, ms)) + ")",
            lambda msg: f"raise_error('{msg}')",
        )
    )
    te = bk.select(
        "vec_id",
        "embedding",
        "bits",
        F.expr(_INC_NEW_FILTER).alias("is_new"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"), F.col(f"k{t}").alias("key")
                    )
                    for t in range(len(_EMB_LSH_OFFSETS))
                ]
            )
        ).alias("tk"),
    ).select(
        "vec_id",
        "embedding",
        "bits",
        "is_new",
        F.col("tk.tbl").alias("tbl"),
        F.col("tk.key").alias("key"),
    )
    old_ind = F.when(F.col("is_new"), 0).otherwise(1)
    # one Window OPERATOR (shared partition+order spec, frames differ) and —
    # crucially — ONE downstream branch: a union of old-member and new-probe
    # filters over the same windowed lineage would DUPLICATE the whole
    # scan+window subtree into both union arms (Spark plans, it does not
    # CSE), doubling the corpus work; instead every row emits its role's
    # entry array conditionally and one explode fans out both roles
    wo = W.partitionBy("tbl", "key").orderBy("vec_id")
    stats = te.withColumn(
        "occ_old",
        F.sum(old_ind).over(
            wo.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        ),
    ).withColumn(
        "rn_old",
        F.sum(old_ind).over(
            wo.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    gated = F.when(
        (F.col("bits") <= 5) | (F.col("occ_old") <= _EMB_PROBE_OCC_BOUND),
        probe_masks,
    ).otherwise(F.array(F.lit(0)))
    key = F.col("key")
    probe_arm = F.transform(
        gated,
        lambda m: F.struct(key.bitwiseXOR(m).alias("pk"), F.lit(0).alias("member")),
    )
    # un-capped old rows yield NULL (no array) — explode drops them
    member_arm = F.when(
        (F.col("bits") <= 5) | (F.col("rn_old") <= _EMB_BUCKET_CAP),
        F.array(F.struct(key.alias("pk"), F.lit(1).alias("member"))),
    )
    rows = stats.select(
        "vec_id",
        "embedding",
        "tbl",
        F.explode(
            F.when(F.col("is_new"), probe_arm).otherwise(member_arm)
        ).alias("e"),
    ).select("vec_id", "embedding", "tbl", "e.pk", "e.member")
    return (
        _score_blocks(rows, ("tbl", "pk"), "directed")
        .distinct()
        .select(
            F.col("a_id").alias("new_id"), F.col("b_id").alias("old_id"), "cos_sim"
        )
    )


def _adapt_signature_rows(
    spark: SparkSession,
    sf_dir: str,
    offsets: tuple[int, ...] = _EMB_LSH_OFFSETS,
    with_embedding: bool = False,
):
    """(embeddings, signature rows) for the corpus-adaptive LSH:
    one row per vector with vec_id, bits, k0..k{T-1} — the Spark twin of the
    ``_adapt_bk_sql`` oracle CTE chain. Shared by the pair build and
    ``dedup_embedding_bucket_audit`` so both derive buckets identically;
    ``offsets`` selects the hash-table family (4 for the primary, 8 for
    the recall tier). ``with_embedding`` keeps the 64-float vector in the
    row — the r13 grouped-scorer builds carry the embedding from the scan
    (guide §8: heavy bytes move with their decision rows, exactly once per
    emission) while the audit path stays narrow."""
    from pg2parquet_spark.operators.similarity import bucket_expr_offset_n

    from pg2parquet_spark.tables import spread_scan

    emb = table(spark, sf_dir, "embeddings")
    par = emb.agg(F.count("*").alias("n")).select(
        F.expr(_adapt_bits_case("n")).alias("bits")
    )
    # spread the plane-dot projection (r13): the 56 per-key HOF dots are
    # interpreted per element (HigherOrderFunction lambdas do not codegen)
    # and the fixture scan is one split, so the whole signature stage ran
    # on one core. An r12 probe of this spread against the OLD
    # candidate-join tail measured a wash (its cost was the joins + pair
    # re-score); under the r13 grouped scorer the signature stage is a
    # visible fraction and the spread re-measured a real win (interleaved
    # mins in OPTIMIZATION_r13.md). No-op at real scale by construction
    # (spread_scan only acts when splits < defaultParallelism).
    # bucket_expr_offset_n (SQL-text HOF form, r13 — one JVM parse instead
    # of 5-10 s of py4j lambda-Column construction per query build; same
    # resolved expression), not the unrolled bucket_sql_offset_n string the
    # ORACLE still evaluates: 4 tables × 14 planes × ~60 terms in one
    # projection generated >64 KB of Java per method, janino threw
    # InternalCompilerException, and the whole signature stage silently ran
    # interpreted (r7 verdict #1). The HOF form is bit-identical (see
    # plane_dot_expr) and keeps the stage in whole-stage codegen — gated by
    # tests/test_plans.py::test_embedding_lsh_family_compiles_codegen.
    carry = ["embedding"] if with_embedding else []
    bkf = spread_scan(emb.select("vec_id", "embedding")).selectExpr(
        "vec_id",
        *carry,
        *[
            f"{bucket_expr_offset_n('embedding', EMB_DIM, off, _ADAPT_MAX_BITS)}"
            f" AS kf{t}"
            for t, off in enumerate(offsets)
        ],
    )
    # 1-row params side: the derived bucket width rides every row as ONE int
    bk = bkf.crossJoin(F.broadcast(par)).select(
        "vec_id",
        *carry,
        "bits",
        *[
            F.expr(f"kf{t} % shiftleft(1, bits)").alias(f"k{t}")
            for t in range(len(offsets))
        ],
    )
    return emb, bk


def _adaptive_lsh_build(
    spark: SparkSession,
    sf_dir: str,
    offsets: tuple[int, ...] = _EMB_LSH_OFFSETS,
    bucket_cap: int = _EMB_BUCKET_CAP,
    occ_bound: int = _EMB_PROBE_OCC_BOUND,
    budget: int = _ADAPT_PROBE_BUDGET,
) -> DataFrame:
    """r13 grouped-scorer shape (r12 VERDICT #1 — the IVF cell-block
    transplant). One LINEAR pipeline: scan (plane dots once, in codegen) →
    JVM explode to (tbl, own-key) rows carrying the embedding → ONE
    (tbl, key) window exchange computes occupancy + candidacy rank for all
    T tables at once → capped rows emit their gated probe masks as
    (tbl, pk) rows → ONE (tbl, pk) exchange feeds the grouped Arrow
    kernel. Replaces (r8-r12): per-table narrow windows + candidate-id
    equi-joins + a repartition + TWO shuffle-hash embedding attaches +
    pair-row Arrow scoring, and the localCheckpoint that existed only
    because the signature table fed 8 join sides — here it has ONE
    consumer chain, so the plane dots are computed once by construction
    and nothing needs materializing.

    Shuffle mass: embedding bytes cross TWO exchanges — T·n rows through
    the window (vs the old 2 corpus attaches), then probes·n capped rows
    into the scorer (vs the old candidate-PAIR mass ≈ probes·n·occupancy
    wide rows). Arrow boundary mass drops by the same occupancy factor
    (~24-47, the pinned band).

    Two r7 dials, unchanged semantics, now riding the single (tbl, key)
    window (both inert at bits<=5 — micro corpora, includes the n<=750
    fixed-variant equivalence contract band; both mirrored in the oracle):
    1. OCCUPANCY-GATED probing (_EMB_PROBE_OCC_BOUND): a vector whose own
       bucket holds more than the bound keeps only mask 0 — dense buckets'
       Hamming neighborhoods are dense (un-gated probing put 1.08e9 join
       rows through the 60k decade).
    2. CANDIDACY CAP (_EMB_BUCKET_CAP): only the first cap members by
       vec_id per bucket emit or receive — own-bucket pair mass is
       quadratic in bucket size (98% of own-bucket pairs at the 60k point
       came from >64-member buckets). Dropped mass is reported by
       dedup_embedding_bucket_audit."""
    from pyspark.sql import Window as W

    emb, bk = _adapt_signature_rows(spark, sf_dir, offsets, with_embedding=True)
    probe_masks = F.expr(
        _adapt_masks_case(
            lambda ms: "array(" + ", ".join(map(str, ms)) + ")",
            lambda msg: f"raise_error('{msg}')",
            budget,
        )
    )
    te = bk.select(
        "vec_id",
        "embedding",
        "bits",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"), F.col(f"k{t}").alias("key")
                    )
                    for t in range(len(offsets))
                ]
            )
        ).alias("tk"),
    ).select(
        "vec_id",
        "embedding",
        "bits",
        F.col("tk.tbl").alias("tbl"),
        F.col("tk.key").alias("key"),
    )
    # one Window OPERATOR, not two: giving the occupancy count the same
    # (partition, order) spec as row_number (its frame widened to the full
    # partition) lets Catalyst evaluate both in a single sorted pass
    wo = W.partitionBy("tbl", "key").orderBy("vec_id")
    stats = te.withColumn(
        "occ",
        F.count(F.lit(1)).over(
            wo.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        ),
    ).withColumn("rn", F.row_number().over(wo))
    capped = stats.filter((F.col("bits") <= 5) | (F.col("rn") <= bucket_cap))
    gated = F.when(
        (F.col("bits") <= 5) | (F.col("occ") <= occ_bound), probe_masks
    ).otherwise(F.array(F.lit(0)))
    rows = capped.select(
        "vec_id",
        "embedding",
        "tbl",
        "key",
        F.explode(
            F.transform(gated, lambda m: F.col("key").bitwiseXOR(m))
        ).alias("pk"),
    ).select(
        "vec_id",
        "embedding",
        "tbl",
        "pk",
        # mask 0 ⇔ pk == own key ⇔ bucket MEMBER (receives pairs); the
        # member row doubles as its own-bucket prober, exactly like the
        # old a-side's mask-0 row
        (F.col("pk") == F.col("key")).cast("int").alias("member"),
    )
    # 3-column distinct == (a_id, b_id) distinct (deterministic cos_sim);
    # collapses cross-table/probe duplicates like the oracle's DISTINCT
    return _score_blocks(rows, ("tbl", "pk"), "lt").distinct()


# ------------------------------------------- end-to-end curation pipeline --
@register(
    "pipeline_corpus_curation",
    oracle=f"""
WITH {AUG_SQL.strip()}, {NORMED_SQL.strip()},
ranked AS (
  SELECT doc_id, norm,
         ROW_NUMBER() OVER (PARTITION BY md5(norm) ORDER BY doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY md5(norm)) AS n_copies
  FROM normed
),
kept AS (
  SELECT doc_id, norm, n_copies,
         len(string_split(norm, ' ')) AS n_tokens
  FROM ranked WHERE rn = 1
)
SELECT COUNT(*) AS n_docs_kept,
       CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups_collapsed,
       CAST(SUM(CASE WHEN n_tokens >= 10 THEN n_tokens ELSE 0 END) AS BIGINT) AS total_tokens_quality,
       CAST(SUM(CASE WHEN n_tokens >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_quality
FROM kept
""",
    doc="End-to-end curation capstone: augmented corpus → exact dedup keeping the "
    "min-doc_id representative (one shuffle on the content hash; window gives "
    "representative AND group size in the same pass) → token-count quality gate "
    "→ corpus-level stats. The composition a 100 TB curation job runs nightly; "
    "every stage is the already-benchmarked operator above.",
)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    aug = augmented_documents(spark, sf_dir)
    norm = normalize_text(F.col("text"))
    hashed = aug.select("doc_id", norm.alias("norm")).withColumn(
        "content_hash", F.md5("norm")
    )
    w = W.partitionBy("content_hash")
    ranked = hashed.select(
        "doc_id",
        "norm",
        F.row_number().over(w.orderBy("doc_id")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_copies"),
    )
    kept = ranked.filter(F.col("rn") == 1).select(
        "doc_id",
        "n_copies",
        F.size(F.split(F.col("norm"), " ")).alias("n_tokens"),
    )
    quality = F.col("n_tokens") >= 10
    return kept.agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_groups_collapsed"),
        F.sum(F.when(quality, F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("total_tokens_quality"),
        F.sum(F.when(quality, 1).otherwise(0)).cast("bigint").alias("n_docs_quality"),
    )


# ------------------------------------------- connected-component clusters --
_CC_COMP_CTES = """
bi AS (
  SELECT doc_a AS a, doc_b AS b FROM cand
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM cand
),
reach AS (
  SELECT a AS src, b AS dst FROM bi
  UNION
  SELECT r.src, bi.b FROM reach r JOIN bi ON bi.a = r.dst
),
comp AS (
  SELECT src AS id, LEAST(src, MIN(dst)) AS comp FROM reach GROUP BY src
)
"""

_CC_SQL_BODY = f"""
{_CC_COMP_CTES.strip()}
SELECT comp AS cluster_rep,
       COUNT(*) AS cluster_size,
       string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
FROM comp GROUP BY comp
"""


@register(
    "dedup_cluster_components",
    oracle=f"""
WITH RECURSIVE {AUG_SQL.strip()}, {NORMED_SQL.strip()}, {SHINGLED_SQL.strip()}, {STOPF_SQL.strip()},
{_sig_sql()},
{_bands_sql()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
),
{_CC_SQL_BODY.strip()}
""",
    doc="Near-dup CLUSTERS, not just pairs: connected components over the LSH "
    "candidate graph via min-label propagation WITH pointer doubling (every "
    "round a vertex adopts the min of its own label, its neighbors' labels, "
    "and its label's label — same-component transitivity makes the last one "
    "sound). Doubling covers a 2^k-hop neighborhood after k rounds, so "
    "convergence is O(log diameter) even on adversarial path graphs (64-node "
    "chain pinned in tests), and non-convergence RAISES instead of silently "
    "returning partial labels. The fixpoint is the unique minimum-reachable-"
    "id labeling → deterministic regardless of execution order. This is the "
    "step that turns pair output into pick-one-representative dedup at 100 "
    "TB. Oracle: DuckDB WITH RECURSIVE transitive closure.",
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = _lsh_band_collisions(spark, sf_dir).select("doc_a", "doc_b").distinct()
    labels = connected_components(cand)
    return labels.groupBy(F.col("comp").alias("cluster_rep")).agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.concat_ws(
            ",", F.transform(F.sort_array(F.collect_list("id")), lambda x: x.cast("string"))
        ).alias("members"),
    )


def connected_components(
    edges: DataFrame, max_rounds: int = 20, strict: bool = True
) -> DataFrame:
    """Label every vertex of the undirected ``edges`` graph (columns
    ``doc_a``, ``doc_b``) with the minimum vertex id reachable from it.
    Returns (id, comp).

    Min-label propagation alone moves a label ONE hop per round — a path
    graph of diameter d needs d rounds, so any fixed bound silently
    mislabels adversarial long-chain graphs. Each round here therefore also
    POINTER-DOUBLES: every vertex additionally adopts ``comp(comp(id))``
    (valid because same-component is transitive), which doubles the hop
    distance covered per round → O(log diameter) convergence; a 64-node
    chain converges in ~7 rounds (pinned by
    tests/test_pipeline_ops.py::test_cluster_components_long_chain).

    ``strict=True`` raises if the fixpoint is not reached within
    ``max_rounds`` — returning unconverged labels would be silent wrong
    answers, the worst failure mode at 100 TB.
    """
    spark = edges.sparkSession
    bi = edges.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).unionAll(edges.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
    # r12: hash-partition the edge list by its per-round join key BEFORE
    # persisting. The propagation join below is bi.b == labels.id every
    # round; an unpartitioned cache made EnsureRequirements re-exchange the
    # full edge list each round, the dominant per-round shuffle mass. One
    # up-front shuffle replaces O(rounds) of them — the InMemoryTableScan
    # advertises hashpartitioning(b) and the labels side comes out of its
    # groupBy hash-partitioned on id, so the join needs no exchange at all.
    bi = bi.repartition(F.col("b")).persist()
    # localCheckpoint (not just persist) each iteration: persist cuts
    # re-EXECUTION but the logical plan still grows per round, so analysis/
    # optimization time compounds. Truncating lineage keeps every iteration
    # O(1) plan size — at real scale use reliable checkpoint() to DFS.
    # Dataset.unpersist() does NOT free a localCheckpoint's blocks (they back
    # the lineage-truncated LogicalRDD, outside the CacheManager), so we track
    # the RDD ids each checkpoint creates and free the superseded iteration's
    # blocks through the JVM handle once `changed` has consumed them.
    sc = spark.sparkContext
    before = _persistent_rdd_ids(sc)
    # r12: lazy checkpoints throughout — the convergence-signature scan
    # right below is always the checkpoint's first action, so eager=False
    # folds materialization into the job the loop runs anyway, halving the
    # per-round job count (materialize+sig were two jobs, now one).
    labels = (
        bi.select(F.col("a").alias("id")).distinct().withColumn("comp", F.col("id"))
    ).localCheckpoint(eager=False)
    converged = False
    # Fixpoint detection without a per-round join: min-label propagation is
    # MONOTONE — every vertex's comp can only decrease — so (count, sum(comp))
    # is a sound convergence signature: the count is constant and the sum
    # strictly decreases until the fixpoint; sum unchanged ⇔ no vertex
    # changed. One cheap scan of the fresh checkpoint replaces the old
    # labels⋈new_labels diff join (a whole extra shuffle per round).
    def _sig(frame: DataFrame) -> tuple[int, int]:
        r = frame.agg(
            F.count(F.lit(1)).alias("n"), F.sum("comp").alias("s")
        ).collect()[0]
        return (r.n, r.s)

    prev_sig = _sig(labels)  # materializes the lazy checkpoint
    labels_rdd_ids = _persistent_rdd_ids(sc) - before
    for rnd in range(max_rounds):  # loop exits at the fixpoint
        msgs = bi.join(labels, bi.b == labels.id).select(
            F.col("a").alias("id"), F.col("comp")
        )
        # pointer doubling: comp values are themselves vertex ids, so every
        # comp(id) has a labels row — adopt its label too. After round k the
        # best label is min over a 2^k-hop neighborhood, not a k-hop one.
        # Round 0 skips it: labels are the identity map there, so
        # comp(comp(id)) == comp(id) and the join would be pure overhead.
        merged = labels.unionAll(msgs)
        if rnd > 0:
            dbl = (
                labels.alias("l1")
                .join(labels.alias("l2"), F.col("l1.comp") == F.col("l2.id"))
                .select(F.col("l1.id").alias("id"), F.col("l2.comp").alias("comp"))
            )
            merged = merged.unionAll(dbl)
        before = _persistent_rdd_ids(sc)
        new_labels = (
            merged.groupBy("id").agg(F.min("comp").alias("comp"))
        ).localCheckpoint(eager=False)
        new_sig = _sig(new_labels)  # materializes the lazy checkpoint
        new_rdd_ids = _persistent_rdd_ids(sc) - before
        # old labels fully consumed (new_labels materialized by the sig
        # scan) — free its executor-storage blocks now instead of waiting
        # for Python GC + ContextCleaner across many iterations
        _unpersist_rdd_ids(sc, labels_rdd_ids)
        labels, labels_rdd_ids = new_labels, new_rdd_ids
        if new_sig == prev_sig:
            converged = True
            break
        prev_sig = new_sig
    bi.unpersist()
    if not converged and strict:
        _unpersist_rdd_ids(sc, labels_rdd_ids)
        raise RuntimeError(
            f"connected_components did not reach a fixpoint in {max_rounds} rounds"
        )
    # the FINAL labels checkpoint stays persisted: callers read it and the
    # truncated lineage cannot recompute; ContextCleaner reclaims it on GC.
    return labels


# -------------------------------------------- cluster-safe train/test split --
_SPLIT_TEST_MOD = 10  # 1-in-10 clusters land in test


@register(
    "pipeline_cluster_safe_split",
    oracle=f"""
WITH RECURSIVE {AUG_SQL.strip()}, {NORMED_SQL.strip()}, {SHINGLED_SQL.strip()}, {STOPF_SQL.strip()},
{_sig_sql()},
{_bands_sql()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
),
{_CC_COMP_CTES.strip()},
lab AS (
  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS comp
  FROM (SELECT doc_id FROM aug) d LEFT JOIN comp c ON c.id = d.doc_id
),
sp AS (
  SELECT doc_id, comp,
         CASE WHEN CAST('0x' || substr(md5(CAST(comp AS VARCHAR)), 1, 4) AS BIGINT)
                   % {_SPLIT_TEST_MOD} = 0
              THEN 'test' ELSE 'train' END AS split
  FROM lab
),
leak AS (
  SELECT COUNT(*) AS leaked
  FROM cand JOIN sp sa ON sa.doc_id = cand.doc_a
            JOIN sp sb ON sb.doc_id = cand.doc_b
  WHERE sa.split <> sb.split
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT comp) AS BIGINT) AS n_clusters,
       CAST((SELECT leaked FROM leak) AS BIGINT) AS leaked_pairs
FROM sp GROUP BY split
""",
    doc="The FIX for what pipeline_split_leakage audits: a train/test split "
    "that can never leak near-duplicates across the boundary, because the "
    "split key is the document's near-dup CLUSTER representative (LSH "
    "candidate graph → connected components; singletons are their own "
    "cluster), hashed into test with probability 1/"
    f"{_SPLIT_TEST_MOD}. Whole clusters move together by construction; "
    "the query re-checks itself by counting candidate pairs straddling "
    "the boundary (leaked_pairs — 0 by construction, and the gate would "
    "catch any regression). Plan: the component labeling is the same "
    "pointer-doubled fixpoint as dedup_cluster_components; the split "
    "assignment is a map-side hash of the label; the leak check re-joins "
    "the bounded candidate list; the 1-row leak count broadcasts onto "
    "the 2-row output.",
)
def pipeline_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = _lsh_band_collisions(spark, sf_dir).select("doc_a", "doc_b").distinct()
    labels = connected_components(cand)
    docs = augmented_documents(spark, sf_dir, widen=False).select("doc_id")
    lab = docs.join(
        labels.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select("doc_id", F.coalesce("comp", "doc_id").alias("comp"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("comp").cast("string")), 1, 4), 16, 10)
        .cast("bigint") % _SPLIT_TEST_MOD
    )
    sp = lab.select(
        "doc_id", "comp", F.when(bucket == 0, "test").otherwise("train").alias("split")
    )
    sa = sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    leak = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("leaked_pairs"))
    )
    out = sp.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("comp").cast("bigint").alias("n_clusters"),
    )
    return out.crossJoin(F.broadcast(leak)).select(
        "split", "n_docs", "n_clusters", "leaked_pairs"
    )


# ------------------------------------------------- exact-substring dedup --
_SUBSTR_N = 8  # span length in tokens; Lee et al. use 50 BPE tokens — the
               # fixture documents are ~100 tokens, so 8 keeps true positives


def _substr_gram_sql() -> str:
    parts = " || ' ' || ".join(f"toks[i + {j}]" for j in range(_SUBSTR_N))
    return (
        f"list_distinct(list_transform(range(1, len(toks) - {_SUBSTR_N - 2}), "
        f"i -> {parts}))"
    )


@register(
    "dedup_substring_ngrams",
    oracle=f"""
WITH {AUG_SQL.strip()}, {NORMED_SQL.strip()},
g8 AS (
  SELECT doc_id, {_substr_gram_sql()} AS gs
  FROM (SELECT doc_id, string_split(norm, ' ') AS toks FROM normed)
),
docg AS (
  SELECT doc_id, md5(g) AS h FROM (SELECT doc_id, unnest(gs) AS g FROM g8)
),
shared AS (SELECT h FROM docg GROUP BY h HAVING COUNT(*) >= 2)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN s.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       CAST(SUM(CASE WHEN s.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS shared_fraction
FROM docg d LEFT JOIN shared s ON d.h = s.h
GROUP BY d.doc_id
""",
    doc=f"Exact-substring duplication signal (Lee et al. 2022, 'Deduplicating "
    f"Training Data Makes Language Models Better'): per document, the "
    f"fraction of its distinct {_SUBSTR_N}-token spans that also occur in "
    "ANOTHER document — the span-level complement of the doc-pair dedup "
    "family, and the published basis for cut-the-span dedup. Runs over the "
    "augmented corpus so planted near-dups yield true positives. Plan: "
    "spans are array expressions in the scan stage, deduped per-doc "
    "map-side (array_distinct) so the (doc, span-hash) stream carries no "
    "within-doc repeats; one groupBy on the span hash finds cross-doc "
    "spans; the marker left-join + one doc_id groupBy compute total and "
    "shared counts in a single consumption of the exploded stream (no "
    "anti-join double-scan). The span table is corpus-sized, so the join "
    "is a keyed shuffle join by design, never a broadcast — at 100 TB the "
    "span-df table is the materialized artifact, exactly like the "
    "reference suffix-array pipeline's merged duplicate list.",
)
def dedup_substring_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = augmented_documents(spark, sf_dir)
    grams = aug.select(
        "doc_id", F.array_distinct(word_shingles(F.col("text"), _SUBSTR_N)).alias("gs")
    )
    # span key: xxhash64, not the 32-char md5 hex string — the (doc,
    # span-hash) stream is corpus-sized and shuffles on h, so the 8-byte
    # key cuts that shuffle's row width ~4x AND replaces md5 with a far
    # cheaper hash. MEASURED at sf0.1 (local[32], median of 3): md5-string
    # 3.25 s ≈ xxhash64 3.38 s (local shuffle is memory-speed; the narrow
    # key pays off on network shuffle), while the conv('0x'||substr(md5))
    # 60-bit parse was 6.06 s — 1.9x SLOWER from expression cost — and was
    # rejected. The oracle keys on md5 hex instead (DuckDB has no
    # xxhash64): h is a GROUPING KEY only, never output, so the engines
    # agree unless a 64-bit collision splits differently — P < 1e-6 at
    # sf0.1 span cardinality, 0 observed at the gate scale.
    docg = grams.select("doc_id", F.explode("gs").alias("g")).select(
        "doc_id", F.xxhash64("g").alias("h")
    )
    # per-span document counts via a WINDOW over the span hash instead of a
    # groupBy + self-join: the join form evaluates the shingle+md5 subtree
    # twice (once per join side — exchange reuse does not dedupe them) and
    # shuffles it twice. One count-over-h window = one evaluation, one
    # shuffle on h, then the per-doc rollup shuffles on doc_id as before.
    # Measured 15.2 s → ~4 s at sf0.1, identical output.
    from pyspark.sql import Window as _W

    marked = docg.withColumn(
        "span_docs", F.count(F.lit(1)).over(_W.partitionBy("h"))
    )
    hit = (F.col("span_docs") >= 2).cast("int")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(hit).cast("bigint").alias("n_shared"),
            (F.sum(hit).cast("double") / F.count(F.lit(1))).alias("shared_fraction"),
        )
    )


_URL_EXPR = (
    "'HTTPS://WWW.' || source || '.example.com/' || (doc_id % 50)"
    " || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END"
    " || '?utm_source=feed&sid=' || doc_id"
)


@register(
    "dedup_url_canonical",
    oracle=f"""
WITH u AS (SELECT doc_id, {_URL_EXPR} AS raw_url FROM documents),
c AS (
  SELECT doc_id,
         TRIM(TRAILING '/' FROM replace(lower(split_part(raw_url, '?', 1)), '://www.', '://')) AS canonical_url
  FROM u
)
SELECT canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS representative
FROM c GROUP BY canonical_url HAVING COUNT(*) >= 2
""",
    doc="URL-canonicalization dedup — the FIRST dedup pass of every web-"
    "crawl pipeline (WARC/WET processing dedups by normalized URL before "
    "ever touching content): strip the query string (split_part '?'), "
    "lowercase, drop the www. prefix, trim the trailing slash, then one "
    "groupBy(canonical) shuffle. URLs are synthesized deterministically "
    "from (source, doc_id) — same pattern as the multimodal fake columns — "
    "so the oracle rebuilds them and the gate checks the whole normalize+"
    "group path. Pure string expressions, JVM-side, one shuffle; the "
    "canonical key is near-uniform so no skew handling is needed.",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    u = docs.selectExpr("doc_id", f"{_URL_EXPR} AS raw_url")
    c = u.selectExpr(
        "doc_id",
        "TRIM(TRAILING '/' FROM replace(lower(split_part(raw_url, '?', 1)), '://www.', '://')) AS canonical_url",
    )
    return (
        c.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("representative"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ------------------------------------------------ exact-substring CUT --
# The ACTION half of dedup_substring_ngrams' signal: Lee et al. 2022 cut
# the duplicated spans out of the corpus, they don't just report them.
_CUT_N = _SUBSTR_N  # same 8-token spans as the signal query


@register(
    "pipeline_substring_cut",
    oracle=f"""
WITH {AUG_SQL.strip()}, {NORMED_SQL.strip()},
tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM normed),
spp AS (
  SELECT doc_id, toks, unnest(range(1, greatest(len(toks) - {_CUT_N - 2}, 1))) AS i
  FROM tk
),
sp AS (
  SELECT doc_id, i - 1 AS p,
         md5({" || ' ' || ".join(f"toks[i + {j}]" for j in range(_CUT_N))}) AS h
  FROM spp
),
sh AS (SELECT h FROM sp GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)),
cov AS (
  SELECT DISTINCT s.doc_id, s.p + o.off AS t
  FROM sp s JOIN sh USING (h), (SELECT unnest(range(0, {_CUT_N})) AS off) o
),
cut AS (SELECT doc_id, list_sort(list(t)) AS cut FROM cov GROUP BY doc_id),
o AS (
  SELECT tk.doc_id, len(toks) AS n_tokens,
         COALESCE(len(cut), 0) AS n_removed,
         CASE WHEN cut IS NULL THEN toks
              ELSE list_filter(toks, (x, i) -> NOT list_contains(cut, i - 1))
         END AS kept
  FROM tk LEFT JOIN cut USING (doc_id)
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_removed AS BIGINT) AS n_removed,
       CAST(n_tokens - n_removed AS BIGINT) AS n_kept,
       md5(COALESCE(array_to_string(kept, ' '), '')) AS kept_hash
FROM o
""",
    doc=f"Exact-substring dedup, the CUT step (Lee et al. 2022): every token "
    f"covered by any {_CUT_N}-token span that also occurs in another "
    "document is REMOVED from the text; per doc the query emits token "
    "counts before/after plus the md5 of the surviving text — the hash "
    "pins the actual cut content, not just counts. Plan: spans with "
    "positions are map-side array expressions; 'shared' is min(doc)≠"
    "max(doc) over ONE window shuffle on the span hash (no groupBy+join "
    "double-scan, same trick as the signal query); covered positions "
    "explode ×span-len from shared spans only, fold to a per-doc sorted "
    "set (bounded by doc length) in one doc_id shuffle; the final keyed "
    "join attaches the cut-set to each doc and the token filter is a "
    "pure array expression. Cross-doc spans only, by contract (a span "
    "repeated within one doc is not cut — min≠max sees distinct docs).",
)
def pipeline_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    aug = augmented_documents(spark, sf_dir)
    base = aug.select("doc_id", tokens(F.col("text")).alias("toks"))
    sp = base.select(
        "doc_id", F.posexplode(token_shingles(F.col("toks"), _CUT_N)).alias("p", "g")
    ).select("doc_id", "p", F.xxhash64("g").alias("h"))
    w = W.partitionBy("h")
    shared = sp.withColumn(
        "is_shared", F.min("doc_id").over(w) != F.max("doc_id").over(w)
    ).filter(F.col("is_shared"))
    cov = (
        shared.select(
            "doc_id", F.explode(F.sequence(F.col("p"), F.col("p") + _CUT_N - 1)).alias("t")
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("t")).alias("cut"))
    )
    joined = base.join(cov, "doc_id", "left")
    kept = F.expr(
        "CASE WHEN cut IS NULL THEN toks "
        "ELSE filter(toks, (x, i) -> NOT array_contains(cut, i)) END"
    )
    return joined.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.coalesce(F.size("cut"), F.lit(0)).cast("bigint").alias("n_removed"),
        (F.size("toks") - F.coalesce(F.size("cut"), F.lit(0)))
        .cast("bigint")
        .alias("n_kept"),
        F.md5(F.concat_ws(" ", kept)).alias("kept_hash"),
    )


_EVAL_EST_MIN = 4  # predicted-positive: >= 4 of 8 matching lanes (est >= 0.5)


def _eval_match_sum(pa: str, pb: str) -> str:
    return " + ".join(
        f"CASE WHEN {pa}.h{k} = {pb}.h{k} THEN 1 ELSE 0 END" for k in range(_K)
    )


@register(
    "pipeline_near_dup_eval",
    oracle=f"""
WITH {AUG_SQL.strip()}, {NORMED_SQL.strip()}, {SHINGLED_SQL.strip()}, {STOPF_SQL.strip()},
sizes AS (SELECT doc_id, len(sh) AS n FROM shingled_f),
exactp AS (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
    FROM (SELECT doc_id, unnest(sh) AS s FROM shingled_f) a
    JOIN (SELECT doc_id, unnest(sh) AS s FROM shingled_f) b
      ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) p JOIN sizes sa ON sa.doc_id = p.doc_a JOIN sizes sb ON sb.doc_id = p.doc_b
  WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.6
),
{_sig_sql()},
{_bands_sql()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
),
estp AS (
  SELECT doc_a, doc_b FROM cand
  JOIN sigs sa ON sa.doc_id = doc_a JOIN sigs sb ON sb.doc_id = doc_b
  WHERE {_eval_match_sum('sa', 'sb')} >= {_EVAL_EST_MIN}
),
ev AS (
  SELECT CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_true,
         CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_pred
  FROM exactp e FULL JOIN estp p ON e.doc_a = p.doc_a AND e.doc_b = p.doc_b
)
SELECT CAST(SUM(is_true * is_pred) AS BIGINT) AS tp,
       CAST(SUM((1 - is_true) * is_pred) AS BIGINT) AS fp,
       CAST(SUM(is_true * (1 - is_pred)) AS BIGINT) AS fn,
       CAST(SUM(is_true * is_pred) AS DOUBLE) / SUM(is_pred) AS precision_,
       CAST(SUM(is_true * is_pred) AS DOUBLE) / SUM(is_true) AS recall_
FROM ev
""",
    doc="The sketch measures ITSELF as a query: confusion counts of the "
    "MinHash-LSH near-dup detector (predicted positive = >=4/8 matching "
    "lanes, est_jaccard >= 0.5) against exact shingle Jaccard >= 0.6 from "
    "the inverted index — TP/FP/FN plus precision/recall (each one exact "
    "integer division). This is the quality-monitoring job a production "
    "dedup pipeline runs on a sampled corpus slice before trusting the "
    "sketch at full scale; both arms reuse the registered operators' "
    "plans (stop-filtered shingles feed both), composed with one full "
    "outer join on the pair key and a 1-row aggregate.",
)
def pipeline_near_dup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SHARED FRONTIER (r13, guide §5): both arms — exact Jaccard over the
    # inverted index and the MinHash estimate — derive from the same
    # stop-filtered shingle sets, and the exact arm additionally consumes
    # them on BOTH self-join sides; composed from the registered operators
    # the shingling (normalize + split + 3-gram + stop filter) ran three
    # times per query. One lazy localCheckpoint feeds all three consumers.
    # Intra-query state only, reclaimed when the result is GC'd.
    sh = stop_filtered_shingles(spark, sf_dir).localCheckpoint(eager=False)
    exact = _jaccard_pair_rows(spark, sf_dir, shingled=sh).select("doc_a", "doc_b")
    est = _minhash_pair_rows(
        spark, sf_dir, bands=_lsh_bands(spark, sf_dir, shingled=sh)
    ).filter(
        F.col("matching_hashes") >= _EVAL_EST_MIN
    ).select("doc_a", "doc_b")
    e = exact.withColumn("is_true", F.lit(1))
    p = est.withColumn("is_pred", F.lit(1))
    ev = e.join(p, ["doc_a", "doc_b"], "full").select(
        F.coalesce("is_true", F.lit(0)).alias("is_true"),
        F.coalesce("is_pred", F.lit(0)).alias("is_pred"),
    )
    return ev.agg(
        F.sum(F.col("is_true") * F.col("is_pred")).cast("bigint").alias("tp"),
        F.sum((1 - F.col("is_true")) * F.col("is_pred")).cast("bigint").alias("fp"),
        F.sum(F.col("is_true") * (1 - F.col("is_pred"))).cast("bigint").alias("fn"),
        (
            F.sum(F.col("is_true") * F.col("is_pred")).cast("double")
            / F.sum("is_pred")
        ).alias("precision_"),
        (
            F.sum(F.col("is_true") * F.col("is_pred")).cast("double")
            / F.sum("is_true")
        ).alias("recall_"),
    )


# ------------------------------------------------------ dedup scorecard --
@register(
    "pipeline_dedup_scorecard",
    oracle=f"""
WITH {AUG_SQL.strip()}, {NORMED_SQL.strip()}, {SHINGLED_SQL.strip()}, {STOPF_SQL.strip()},
{_sig_sql()},
{_bands_sql()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
),
nearp AS (
  SELECT doc_a, doc_b FROM cand
  JOIN sigs sa ON sa.doc_id = doc_a JOIN sigs sb ON sb.doc_id = doc_b
  WHERE {_eval_match_sum('sa', 'sb')} >= {_EVAL_EST_MIN}
),
neard AS (SELECT doc_a AS doc_id FROM nearp UNION SELECT doc_b FROM nearp),
bsz AS (
  SELECT band_idx, bh, COUNT(*) AS sz FROM bands_all GROUP BY band_idx, bh
),
capd AS (
  SELECT COALESCE(SUM(CASE WHEN sz > {_BUCKET_CAP} THEN sz - {_BUCKET_CAP} ELSE 0 END), 0) > 0 AS capped
  FROM bsz
),
ex AS (
  SELECT doc_id,
         COUNT(*) OVER (PARTITION BY md5(norm)) AS n_copies,
         MIN(doc_id) OVER (PARTITION BY md5(norm)) AS rep
  FROM normed
),
g8 AS (
  SELECT doc_id, {_substr_gram_sql()} AS gs
  FROM (SELECT doc_id, string_split(norm, ' ') AS toks FROM normed)
),
docg AS (
  SELECT doc_id, md5(g) AS h FROM (SELECT doc_id, unnest(gs) AS g FROM g8)
),
sharedh AS (SELECT h FROM docg GROUP BY h HAVING COUNT(*) >= 2),
subf AS (
  SELECT d.doc_id,
         CAST(SUM(CASE WHEN s.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS sfrac
  FROM docg d LEFT JOIN sharedh s ON d.h = s.h GROUP BY d.doc_id
),
sc AS (
  SELECT e.doc_id,
         CASE WHEN e.n_copies > 1 AND e.doc_id <> e.rep THEN 'drop_exact_dup'
              WHEN COALESCE(sf.sfrac, 0) > 0.5 THEN 'drop_substring'
              WHEN n.doc_id IS NOT NULL AND c.capped THEN 'review_near_dup_capped'
              WHEN n.doc_id IS NOT NULL THEN 'review_near_dup'
              ELSE 'keep' END AS verdict
  FROM ex e
  LEFT JOIN neard n ON n.doc_id = e.doc_id
  LEFT JOIN subf sf ON sf.doc_id = e.doc_id
  CROSS JOIN capd c
)
SELECT verdict, CAST(COUNT(*) AS BIGINT) AS n_docs FROM sc GROUP BY verdict
""",
    doc="The DEDUP SCORECARD — the per-corpus decision table a curation run "
    "publishes before deleting anything: every document classified by a "
    "priority cascade of the registered dedup signals (exact non-"
    "representative -> drop; majority of 8-token spans shared -> drop; "
    "MinHash near-dup candidate (>= "
    f"{_EVAL_EST_MIN}/8 lanes) -> review; else keep), reported as verdict "
    "counts. Since r7 the scorecard CONSUMES the bucket-cap audit: when "
    "dedup_minhash_bucket_audit reports n_dropped_members > 0 (the member "
    "cap silently excluded documents from pair candidacy), the near-dup "
    "verdict flips to 'review_near_dup_capped' — a capped run must not "
    "publish its review channel as complete. COMPOSITION of the already-"
    "gated operators — exact window, capped MinHash candidates + their "
    "audit, span-sharing fractions — joined on doc_id and folded; each "
    "signal keeps its own scale-shaped plan (the audit's drop total rides "
    "a 1-row broadcast crossJoin, whitelisted), the scorecard adds only "
    "keyed joins on the bounded per-doc outputs. A production run materializes the banded "
    "signatures once for both the candidate and audit passes.",
)
def pipeline_dedup_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    aug = augmented_documents(spark, sf_dir)
    normed = aug.select("doc_id", normalize_text(F.col("text")).alias("norm"))
    w = W.partitionBy(F.md5("norm"))
    ex = normed.select(
        "doc_id",
        F.count(F.lit(1)).over(w).alias("n_copies"),
        F.min("doc_id").over(w).alias("rep"),
    )
    # SHARED FRONTIER (r13, guide §5): the near-dup channel and its cap
    # audit both consume the banded minhash signatures, and Spark plans —
    # it does not CSE across branches — so composing the registered
    # operators re-ran the whole shingle+md5 signature pipeline once per
    # consumer. One lazy localCheckpoint of the band rows (narrow:
    # doc_id + 8 sig ints + band_idx + bh) feeds both tails; the doc the
    # operator always carried ("a production run materializes the banded
    # signatures once for both the candidate and audit passes") is now the
    # executed plan. Intra-query state only — materialized and reclaimed
    # within this query's lifetime, nothing persists across runs.
    bands = _lsh_bands(spark, sf_dir).localCheckpoint(eager=False)
    pairs = _minhash_pair_rows(spark, sf_dir, bands=bands).filter(
        F.col("matching_hashes") >= _EVAL_EST_MIN
    )
    neard = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_near", F.lit(True))
    )
    subf = dedup_substring_ngrams(spark, sf_dir).select(
        "doc_id", F.col("shared_fraction").alias("sfrac")
    )
    # the audit's drop total is ONE row (sum over <= _BANDS band rows) —
    # attach it with an explicit 1-row broadcast crossJoin, the same shape
    # as pipeline_cluster_safe_split's leak count. (A literal j1 equi-join
    # is a lie here: FoldablePropagation folds j1 = j1 to true and plans
    # the same BroadcastNestedLoopJoin anyway — with a 1-row build side
    # either plan is scale-safe, so say what we mean and whitelist it.)
    capd = (
        _bucket_audit_rows(bands)
        .agg(F.coalesce(F.sum("n_dropped_members"), F.lit(0)).alias("nd"))
        .select((F.col("nd") > 0).alias("capped"))
    )
    sc = (
        ex.join(neard, "doc_id", "left")
        .join(subf, "doc_id", "left")
        .crossJoin(F.broadcast(capd))
        .select(
            F.when(
                (F.col("n_copies") > 1) & (F.col("doc_id") != F.col("rep")),
                "drop_exact_dup",
            )
            .when(F.coalesce(F.col("sfrac"), F.lit(0.0)) > 0.5, "drop_substring")
            .when(
                F.col("is_near").isNotNull() & F.col("capped"),
                "review_near_dup_capped",
            )
            .when(F.col("is_near").isNotNull(), "review_near_dup")
            .otherwise("keep")
            .alias("verdict")
        )
    )
    return sc.groupBy("verdict").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))


# ------------------------------------------- asymmetric containment pairs --
# Jaccard misses the doc-inside-doc case: a 50-shingle snippet fully pasted
# into a 500-shingle page has J = 50/500 = 0.1 — invisible at any sane
# Jaccard threshold, yet it is exactly the duplication that leaks eval/
# boilerplate text into a training corpus. Containment C(small→large) =
# |A∩B| / |A_small| is the asymmetric measure (Broder's original resemblance
# paper defines both). Same inverted-index candidate shape as
# dedup_ngram_jaccard — one shingle-keyed equi-join, stop-shingle
# pre-filter first — with the decision made by INTEGER comparison
# (10·common ≥ 9·n_small) so the gate is oracle-exact.
_CONTAIN_NUM = 9
_CONTAIN_DEN = 10  # containment threshold 0.9


@register(
    "dedup_containment_ngrams",
    oracle=f"""
WITH {AUG_SQL.strip()}, {NORMED_SQL.strip()}, {SHINGLED_SQL.strip()}, {STOPF_SQL.strip()},
{POSTED_SQL.strip()},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb, COUNT(*) AS common
  FROM posted a JOIN posted b
    ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT CASE WHEN na < nb THEN doc_a ELSE doc_b END AS doc_small,
       CASE WHEN na < nb THEN doc_b ELSE doc_a END AS doc_large,
       CAST(common AS BIGINT) AS common,
       CAST(LEAST(na, nb) AS BIGINT) AS n_small,
       CAST(GREATEST(na, nb) AS BIGINT) AS n_large,
       CAST(common AS DOUBLE) / LEAST(na, nb) AS containment
FROM pairs
WHERE LEAST(na, nb) < GREATEST(na, nb)
  AND common * {_CONTAIN_DEN} >= LEAST(na, nb) * {_CONTAIN_NUM}
""",
    doc=f"Asymmetric containment near-dups: pairs where ≥{_CONTAIN_NUM}/"
    f"{_CONTAIN_DEN} of the SMALLER document's distinct 3-gram shingles "
    "appear in the larger one and the sizes differ — the doc-inside-doc "
    "duplication Jaccard cannot see (J of a snippet pasted into a 10× page "
    "is ~0.1). Candidate generation is the identical inverted-index "
    "equi-join as dedup_ngram_jaccard (stop-shingle pre-filter, sizes ride "
    "the explode so no post-agg lookup joins); the decision is an integer "
    "comparison, the reported containment one exact division. Catches the "
    "planted suffix-extended near-copies as (original ⊂ copy).",
)
def dedup_containment_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _shingle_pair_counts(spark, sf_dir)
    n_small = F.least("na", "nb")
    n_large = F.greatest("na", "nb")
    return (
        pairs.filter(
            (n_small < n_large)
            & (F.col("common") * _CONTAIN_DEN >= n_small * _CONTAIN_NUM)
        )
        .select(
            F.when(F.col("na") < F.col("nb"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("doc_small"),
            F.when(F.col("na") < F.col("nb"), F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("doc_large"),
            F.col("common").cast("bigint").alias("common"),
            n_small.cast("bigint").alias("n_small"),
            n_large.cast("bigint").alias("n_large"),
            (F.col("common").cast("double") / n_small).alias("containment"),
        )
    )
