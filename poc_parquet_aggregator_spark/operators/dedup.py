"""Deduplication operators over the documents/embeddings tables.

Training-data-pipeline extensions beyond the reference's inventory:
exact-hash dedup, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine
near-dup. All portable math (md5-based hashing, left-to-right array sums)
so the DuckDB oracles compute identical values — including SimHash, whose
per-token 60-bit hash is the first 15 hex digits of md5 (bit ops on BIGINT
exist in both engines), so every operator here is fully oracle-paired.

Scale notes (100 TB): every operator here is shuffle-on-key (shingle /
band / bucket), never a cross join; candidate verification happens only
within buckets, which is the LSH contract. Two explicit skew guards bound
worst-case candidate counts on pathological corpora:
  * a document-frequency cap drops shingles shared by more than
    ``_MAX_SHINGLE_DF`` docs before any shingle self-join (a stopword
    shingle shared by k docs would otherwise emit k^2 candidate pairs);
  * an LSH/pigeonhole bucket-size cap drops degenerate buckets larger than
    ``_MAX_BUCKET`` docs before the bucket self-join.
Both caps are mirrored in the DuckDB oracles, so the gate checks the capped
semantics end to end. The only broadcasts are constant-size dimensions
(the enabled-seed set; the 30-vector hyperplane row for embedding LSH).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .spread import spread

_MAX_SHINGLE_DF = 256  # doc-frequency cap: shingles in more docs are dropped
_MAX_BUCKET = 1024  # LSH band / pigeonhole buckets larger than this are dropped


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    return spread(spark.read.parquet(f"{sf}/documents.parquet"))


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship the package to python workers via addPyFile — covers harnesses
    that built their SparkSession before this package hit PYTHONPATH (the
    env-var route in __spark_entry__ only works pre-JVM)."""
    sid = spark.sparkContext.applicationId  # unique per context (not id())
    if getattr(ensure_workers_can_import, "_done", None) == sid:
        return
    import os
    import zipfile

    from .cache import package_code_hash, package_py_entries

    # content-addressed zip name: a stale zip from an earlier session would
    # silently ship outdated module code to the workers
    entries = package_py_entries()
    zip_path = f"/tmp/poc_parquet_aggregator_spark_pyfiles-{package_code_hash()}.zip"
    if not os.path.exists(zip_path):
        # atomic publish: a concurrent session must never see a half-written
        # zip at the shared content-addressed path
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for full, rel in entries:
                zf.write(full, rel)
        os.rename(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    ensure_workers_can_import._done = sid


# ─────────────────────────── exact dedup (hash groupBy) ─────────────────────


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup on whitespace-normalized text: one shuffle on the content
    hash; representatives = min(doc_id). At scale: hash is computed in the
    scan project, groupBy benefits from partial aggregation."""
    d = _docs(spark, sf)
    norm = F.md5(F.lower(F.regexp_replace("text", r"\s+", " ")))
    return (
        d.withColumn("content_hash", norm)
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count("*").alias("n_copies"))
    )


ORACLE_DEDUP_EXACT = """
SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_hash,
       min(doc_id) AS kept_doc_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


# ─────────────────────── n-gram Jaccard near-dup ────────────────────────────


def _shingles(d: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc via JVM-side array ops —
    explode is the distributed form; no Python in the hot path.

    The words array MUST be projected to its own column before the gram
    lambda references it: higher-order-function lambdas re-evaluate
    captured expressions per element, so an inlined split(lower(regexp))
    inside slice() re-ran the whole tokenization once per gram — measured
    4× the cost of the entire shingle stage. A separate Project is kept by
    CollapseProject (multi-use, non-cheap) and evaluates once per row."""
    words = F.split(F.lower(F.regexp_replace("text", r"\s+", " ")), " ")
    d2 = d.select("doc_id", words.alias("w"))
    # get() ×n instead of slice()+concat_ws(array): the slice form
    # allocates an n-element array per gram inside the interpreted lambda —
    # measured 2× the whole shingle stage at sf1.0 (r7); concat_ws over n
    # scalar lookups emits the identical string (get is 0-based and NULL
    # out of bounds — concat_ws skips NULLs exactly as it skips the
    # elements slice() truncates away on short docs; element_at would
    # throw there under Spark 4's default ANSI mode)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("w") - n, F.lit(0))),
        lambda i: F.concat_ws(" ", *[F.get("w", i + j) for j in range(n)]),
    )
    return d2.select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))


def _capped_shingles(d: DataFrame) -> DataFrame:
    """Shingles restricted to those appearing in ≤ _MAX_SHINGLE_DF docs —
    the skew guard: a corpus where one shingle appears in k docs would emit
    O(k^2) candidate pairs without it.

    Plan shape: ONE shuffle on shingle + a window count, instead of an
    agg + probe join that shuffles the exploded shingles twice and computes
    them twice (measured ~3× this form's cost). The window's
    hashpartitioning(shingle) survives the filter, so the downstream
    shingle self-join (jaccard) re-uses the distribution with no further
    exchange. Caveat: a pathological shingle's rows buffer in one window
    group (spill-backed); for corpora where hot shingles exceed executor
    spill comfort, the alternative is a broadcast LEFT ANTI join against
    the (Zipf-small) hot-shingle set — same semantics, no buffering."""
    sh = _shingles(d)
    w = Window.partitionBy("shingle")
    return (
        sh.withColumn("df", F.count("*").over(w))
        .filter(F.col("df") <= _MAX_SHINGLE_DF)
        .select("doc_id", "shingle")
    )


# Bounded persisted-frame memo (operators/cache.py). The capped-shingle
# frame feeds both jaccard and minhash — r2 VERDICT #3.
from .cache import memo_frame as _memo_frame  # noqa: E402


def _capped_shingles_cached(spark: SparkSession, sf: str) -> DataFrame:
    """jaccard consumes the shingle frame three times (self-join sides +
    sizes) so it always pays the persist."""
    return _memo_frame("shingles", spark, sf, lambda: _capped_shingles(_docs(spark, sf)))


# shared oracle CTE: distinct 3-gram shingles per doc, hot shingles dropped
_DUCK_SHINGLES = f"""
words AS (
  SELECT doc_id, string_split(lower(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS w
  FROM documents),
sh_all AS (
  SELECT DISTINCT doc_id, g AS shingle
  FROM words,
       LATERAL (SELECT unnest(list_transform(
                  range(1, greatest(len(w) - 3, 0) + 2),
                  i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS g)),
sh AS (
  SELECT doc_id, shingle FROM sh_all
  WHERE shingle NOT IN (
    SELECT shingle FROM sh_all GROUP BY 1 HAVING count(*) > {_MAX_SHINGLE_DF}))
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact Jaccard over 3-gram shingle sets: |A∩B| via shingle self-join
    (shuffle on shingle — the inverted-index plan), sizes joined in, pairs
    with J ≥ 0.5. The shingle join is the scalable core: no doc×doc cross
    product ever materializes, and the df cap bounds per-shingle fan-out.
    The ratio is emitted as a raw double — both engines compute the same
    IEEE division of exact small integers, whereas a fractional round()
    diverges (Spark rounds the shortest decimal repr, DuckDB the binary
    value)."""
    sh = _capped_shingles_cached(spark, sf)
    # sizes is referenced FOUR times below (both self-join sides via shn +
    # sa/sb); unpersisted, each reference re-ran the doc_id exchange + agg
    # over the shingle frame with its own broadcast collect (r7 profile:
    # 4 identical subtrees, 0.9-4.7 s sequential collects) — the memo
    # persists the 50k-row frame once
    sizes = _memo_frame(
        "shingle_sizes",
        spark,
        sf,
        lambda: sh.groupBy("doc_id").agg(F.count("*").alias("n_sh")),
    )
    # size-ratio prune (round 7, exact): J(A,B) = |A∩B|/|A∪B| ≤ min/max of
    # the set sizes, so J ≥ 0.5 requires 2·min(n_a,n_b) ≥ max(n_a,n_b).
    # Attaching n_sh to each side (broadcast-sized frame, map-side join)
    # and pruning INSIDE the self-join condition drops ~24% of the pair
    # rows (127M → 97M at sf1.0) before the pair-count aggregation — the
    # query's dominant cost — with zero false negatives; the final
    # jaccard ≥ 0.5 filter is unchanged, so outputs are identical.
    shn = sh.join(F.broadcast(sizes), "doc_id")
    a = shn.alias("a")
    b = shn.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (2 * F.col("a.n_sh") >= F.col("b.n_sh"))
            & (2 * F.col("b.n_sh") >= F.col("a.n_sh")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


ORACLE_NGRAM_JACCARD = f"""
WITH {_DUCK_SHINGLES},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
"""


# ───────────────────────────── MinHash + LSH ────────────────────────────────

_N_HASHES = 8
_BAND_SIZE = 2  # 4 bands of 2 → candidates sharing any band


def _minhash_sigs(sh: DataFrame) -> DataFrame:
    """(doc_id, s0..s7, n_sh) — the 8 min-hash signatures, built to be
    PERSISTED so they are evaluated exactly once (round 7): the r7 profile
    measured the former in-plan form re-running its interpreted md5 HOF
    transforms in four plan branches under one query (4 × ~30 task-s).
    The mins are 8 declarative string-min aggregates over the exploded
    shingle rows — one pure-codegen HashAggregate, md5 evaluated at row
    level; NO collect_set, so the only ObjectHashAggregate (and its
    set-array partial buffers — 144 MB of shuffled arrays at the 100k
    tier) is gone from the query entirely. Interleaved clean-session A/B
    measured this at parity with the collect_set → array_min(transform)
    form at both sf1.0 and the 100k tier (an earlier mid-session '5×
    slower' reading was session-decay artifact, not the operator).
    Values identical: min over the same distinct-shingle multiset, and
    n_sh = count(*) ≡ size(collect_set) — the frame is distinct per doc."""
    h0 = F.md5(F.concat(F.lit("0|"), F.col("shingle")))
    h1 = F.md5(F.concat(F.lit("1|"), F.col("shingle")))
    aggs = []
    for i in range(_N_HASHES):
        src, pos = (h0 if i < 4 else h1), (i % 4) * 8 + 1
        aggs.append(F.min(F.substring(src, pos, 8)).alias(f"s{i}"))
    aggs.append(F.count("*").alias("n_sh"))
    return sh.groupBy("doc_id").agg(*aggs)


def _minhash_banded_from_sigs(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, k1, k2) band rows from the persisted sigs frame —
    one cheap explode of 50k-ish rows; (k1, k2) two-column equality ⟺ the
    oracle's concatenated band_key equality ('|' never appears in hex)."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.col(f"s{b * _BAND_SIZE}").alias("k1"),
                F.col(f"s{b * _BAND_SIZE + 1}").alias("k2"),
            )
            for b in range(_N_HASHES // _BAND_SIZE)
        ]
    )
    return sigs.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"),
        F.col("bk.k1").alias("k1"), F.col("bk.k2").alias("k2"),
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash signatures (min over md5(seed||shingle) — portable string-min
    MinHash), banded LSH bucketing, candidate pairs from same-band buckets,
    then verified with exact Jaccard over the capped shingle frame (only
    pairs with true J ≥ 0.5 survive).

    Round-7 shape (guide §2.3/§2.4/§4.1): signatures are 8 codegen'd
    min-aggregates over the exploded shingle rows (_minhash_sigs) — the
    whole sig pipeline is ONE HashAggregate persisted as a 50k-row
    9-long-column frame, so the four plan branches that consume band rows
    (bucket-count agg + capped join + both self-join sides) replay a
    trivial explode instead of re-running interpreted md5 HOF transforms
    (r7 profile: ~120 task-s → ~0). Verification joins the small candidate
    frame against the persisted exploded shingle frame twice and COUNTS
    the matches — the former row-wise array_intersect over collected sets
    needed the 128 MiB set-array frame broadcast twice (2 × 3.3 s driver
    collect); candidate-side AQE turns these into broadcast joins of the
    ~50k-pair frame instead, and no set arrays exist anywhere. Integer
    |A∩B| and sizes are unchanged ⇒ bit-identical jaccard doubles.
    doc×doc never materializes; the df cap and the bucket cap bound every
    fan-out. The shingle frame memo is shared with jaccard."""
    sh = _capped_shingles_cached(spark, sf)
    sigs = _memo_frame("minhash_sigs", spark, sf, lambda: _minhash_sigs(sh))
    # bucket-size guard: degenerate buckets (many docs sharing one band key)
    # would blow up the self-join quadratically; drop them — their members
    # are still reachable through their other bands
    banded = _minhash_banded_from_sigs(sigs)
    ok = (
        banded.groupBy("band", "k1", "k2")
        .agg(F.count("*").alias("n_bucket"))
        .filter(F.col("n_bucket") <= _MAX_BUCKET)
        .select("band", "k1", "k2")
    )
    capped = banded.join(ok, ["band", "k1", "k2"])
    a = capped.alias("a")
    b2 = capped.alias("b")
    cand = (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.k1") == F.col("b.k1"))
            & (F.col("a.k2") == F.col("b.k2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact-Jaccard verification of candidates only (never all pairs):
    # |A∩B| = join-count of the pair against the distinct shingle frame on
    # both sides — the candidate frame is tiny, so AQE broadcasts it and
    # the persisted shingle frame streams through map-side
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sizes_a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sizes_b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(sizes_a, "doc_a")
        .join(sizes_b, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


ORACLE_MINHASH_LSH = f"""
WITH {_DUCK_SHINGLES},
sigs AS (
  SELECT doc_id,
         min(substr(md5('0|' || shingle),  1, 8)) AS s0,
         min(substr(md5('0|' || shingle),  9, 8)) AS s1,
         min(substr(md5('0|' || shingle), 17, 8)) AS s2,
         min(substr(md5('0|' || shingle), 25, 8)) AS s3,
         min(substr(md5('1|' || shingle),  1, 8)) AS s4,
         min(substr(md5('1|' || shingle),  9, 8)) AS s5,
         min(substr(md5('1|' || shingle), 17, 8)) AS s6,
         min(substr(md5('1|' || shingle), 25, 8)) AS s7
  FROM sh GROUP BY doc_id),
banded_all AS (
  SELECT doc_id, 0 AS band, s0 || '|' || s1 AS band_key FROM sigs UNION ALL
  SELECT doc_id, 1, s2 || '|' || s3 FROM sigs UNION ALL
  SELECT doc_id, 2, s4 || '|' || s5 FROM sigs UNION ALL
  SELECT doc_id, 3, s6 || '|' || s7 FROM sigs),
banded AS (
  SELECT * FROM banded_all
  QUALIFY count(*) OVER (PARTITION BY band, band_key) <= {_MAX_BUCKET}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
"""


# ──────────────────────────────── SimHash ───────────────────────────────────
#
# 60-bit SimHash entirely in JVM expressions — no Python anywhere. The
# per-token hash is the first 15 hex digits of md5 (60 bits, fits a signed
# BIGINT in both engines), bit-majority votes are 60 codegen'd
# sum((h >> b) & 1) aggregates with map-side partial aggregation, and the
# signature is a row-wise sum of (1 << b) terms. The md5-substring hash is
# what makes the operator DuckDB-expressible → full value oracle (the old
# pandas-UDF FNV kernel was per-row Python AND unverifiable).

_SIMHASH_BITS = 60
_SIM_SLOTS = 4  # pigeonhole: 4 × 15-bit keys; hamming ≤ 3 ⇒ ≥ 1 exact key
_SLOT_BITS = _SIMHASH_BITS // _SIM_SLOTS
# Scale fixes for the pigeonhole keyspace (round 5, VERDICT r4 #2). The
# 15-bit slot keyspace tops out at 32,768 buckets/slot, so on the Zipf
# 100k corpus one bucket held 12.5% of docs and the _MAX_BUCKET cap
# refused 5e9 candidate pairs — silent recall collapse at corpus scale.
# Two structural fixes, both exact:
#
#  1. IDENTICAL-SIGNATURE COLLAPSE. Majority-vote SimHash over Zipfian
#     token streams concentrates: measured on the 100k corpus, tens of
#     thousands of docs share one 60-bit signature. No blocking on
#     signature bits can split an identical-signature clique, and its
#     pairs are Θ(k²) by the operator's own contract — so cliques are
#     emitted as STAR EDGES (min-doc representative → member, Hamming 0;
#     k−1 rows, linear), and pairwise blocking runs over DISTINCT
#     signatures only. No recall loss: every member carries its rep's
#     exact signature, so a rep-level pair at Hamming h implies the same
#     h for all cross-member pairs (derivable via the stars).
#
#  2. CASCADED BLOCKING LEVELS (schedule-driven since round 6 — see
#     _CASCADE_SPANS; the Spark frames and the DuckDB oracle CTEs are
#     both generated from the one schedule). A distinct-signature
#     (slot, key) bucket that still exceeds the cap is RE-BLOCKED by the
#     45 signature bits OUTSIDE the matched slot, partitioned into 4
#     sub-slots (12+11+11+11 bits); an over-cap sub-bucket re-blocks on
#     the ~33 bits outside its sub-span (9+8+8+8), then 7+6+6+6, then
#     5+5+4+4 — five levels total. Remainder bits past a level's covered
#     spans staying uncovered is sound: keys read only covered bits, so
#     an uncovered diff can never break a key match. The Hamming ≤ 3
#     contract survives exactly at every level: a qualifying pair is
#     exact in some slot; its ≤3 differing bits all lie outside it, and 4
#     groups pigeonhole ≤3 diffs ⇒ ≥1 exact group key. Only FINAL-level
#     buckets still over the cap drop pairs, identically on both engines.
#     Measured on the 100k Zipf corpus (VERDICT r5 #2): two levels → true
#     rep-pair recall 0.88 vs brute force; three → 0.992 (8.3e6 refused
#     pair-paths, max deepest bucket 2270 ≈ 2.2× cap); four → recall 1.0
#     with one 1034-row bucket left over cap; five → recall 1.0 AND zero
#     over-cap buckets ⇒ pairs_dropped_by_cap = 0 — exact within
#     Hamming ≤ 3 on this corpus, with every level's residual published
#     in BENCH. Deeper levels run only on still-over-cap rows, so the
#     extra levels add no DATA cost when no bucket overflows — but they
#     are not free: each planned level executes its count-window and
#     both branch forks on (possibly empty) frames, ~2-3 s of sequential
#     stage latency at sf1.0 (r7 measurement). An adaptive short-circuit
#     (persist tagged + per-level isEmpty probes, truncate the plan at
#     the first non-overflowing level) was built and MEASURED SLOWER
#     (6.6 s → 11.7 s at sf1.0: probe actions + the persist barrier cost
#     more than the empty levels they remove), so the eager 5-level plan
#     stands — see OPTIMIZATION_r07.md.
_SUB_SPANS = [(0, 12), (12, 11), (23, 11), (34, 11)]  # (offset, width) in rest bits
_SUB2_SPANS = [(0, 9), (9, 8), (17, 8), (25, 8)]  # (offset, width) in rest2 bits
_SUB3_SPANS = [(0, 7), (7, 6), (13, 6), (19, 6)]  # (offset, width) in rest3 bits
_SUB4_SPANS = [(0, 5), (5, 5), (10, 4), (14, 4)]  # (offset, width) in rest4 bits
# The full cascade schedule (round 6 — the blocking loop and the oracle
# CTE chain are both GENERATED from this list, so Spark and DuckDB can't
# drift): each entry re-blocks the previous level's over-cap buckets on 4
# sub-keys drawn from the bits the path hasn't committed yet. Appending
# one more span list deepens the cascade on both engines at once. Level
# names follow the r5 layout: sub_* / s2_* / s3_* / s4_* …
_CASCADE_SPANS = [_SUB_SPANS, _SUB2_SPANS, _SUB3_SPANS, _SUB4_SPANS]
_LEVEL_COLS = [
    ("sub_slot", "sub_key", "rest2"),
    ("s2_slot", "s2_key", "rest3"),
    ("s3_slot", "s3_key", "rest4"),
    ("s4_slot", "s4_key", "rest5"),
]


def _simhash_signatures(d: DataFrame) -> DataFrame:
    """(doc_id, simhash) via explode-tokens → 60 vote sums → majority bits."""
    words = F.split(F.lower(F.regexp_replace("text", r"\s+", " ")), " ")
    toks = d.select("doc_id", F.explode(words).alias("w"))
    h = F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long")
    hashed = toks.select("doc_id", h.alias("h"))
    aggs = [F.count("*").alias("n_tok")] + [
        F.sum(F.shiftrightunsigned("h", b).bitwiseAND(F.lit(1))).alias(f"v{b}")
        for b in range(_SIMHASH_BITS)
    ]
    votes = hashed.groupBy("doc_id").agg(*aggs)
    sim = reduce(
        operator.add,
        [
            F.when(F.col(f"v{b}") * 2 > F.col("n_tok"), F.lit(1 << b).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            for b in range(_SIMHASH_BITS)
        ],
    )
    return votes.select("doc_id", sim.alias("simhash"))


def _simhash_keyed(sigs: DataFrame) -> DataFrame:
    """(doc_id, simhash, slot, key, rest): 4 pigeonhole keys per doc in ONE
    pass (explode, not a 4-way union that would recompute the signature
    aggregation 4 times — seen in .explain). ``rest`` carries the 45
    signature bits outside the slot, packed contiguously — the sub-key
    source for over-cap buckets."""
    slots = []
    for i in range(_SIM_SLOTS):
        key = F.shiftrightunsigned(F.col("simhash"), i * _SLOT_BITS).bitwiseAND(
            F.lit((1 << _SLOT_BITS) - 1)
        )
        rest = F.shiftleft(
            F.shiftrightunsigned(F.col("simhash"), (i + 1) * _SLOT_BITS),
            i * _SLOT_BITS,
        ).bitwiseOR(F.col("simhash").bitwiseAND(F.lit((1 << (i * _SLOT_BITS)) - 1)))
        slots.append(
            F.struct(
                F.lit(i).alias("slot"), key.alias("key"), rest.alias("rest")
            )
        )
    return sigs.select("doc_id", "simhash", F.explode(F.array(*slots)).alias("sk")).select(
        "doc_id",
        "simhash",
        F.col("sk.slot").alias("slot"),
        F.col("sk.key").alias("key"),
        F.col("sk.rest").alias("rest"),
    )


def _simhash_tagged(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, simhash, rep) — signatures with their clique representative
    (min doc_id per identical signature). Deliberately NOT memo-persisted,
    although the cascade forks this subtree up to 7 ways (exact edges +
    two sides of each blocking level): every fork re-joins the SAME
    shuffle under the signature aggregation (ReuseExchange), so a fork
    replays only the post-shuffle agg — a persist() was MEASURED slower
    at sf0.1 (3.5 → 6.8 s: the storage write + materialization barrier
    cost more than the replayed agg) and neutral at the 100k corpus
    (11.3 → 11.1 s)."""
    return _simhash_signatures(_docs(spark, sf)).withColumn(
        "rep", F.min("doc_id").over(Window.partitionBy("simhash"))
    )


def _simhash_reps(tagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Identical-signature collapse (scale fix #1 above): returns
    (reps, exact_edges) where ``reps`` holds one row per DISTINCT signature
    (representative = min doc_id) and ``exact_edges`` the Hamming-0 star
    edges rep→member for every clique member."""
    reps = tagged.filter(F.col("doc_id") == F.col("rep")).select("doc_id", "simhash")
    exact_edges = tagged.filter(F.col("doc_id") != F.col("rep")).select(
        F.col("rep").alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.lit(0).cast("int").alias("hamming"),
    )
    return reps, exact_edges


def _simhash_blocked(
    sigs: DataFrame,
) -> tuple[list[tuple[DataFrame, list[str]]], DataFrame, list[str]]:
    """The frames the cascaded pigeonhole join actually runs on, built in
    a loop over _CASCADE_SPANS. Returns ``(capped, final_sized,
    final_keys)``:

      * ``capped`` — one ``(frame, key_cols)`` per cascade level
        1..len(_CASCADE_SPANS): the rows whose bucket on that level's key
        set holds ≤ _MAX_BUCKET docs (level 1 keys on (slot, key);
        each deeper level appends the 4 sub-keys drawn from the bits the
        path hasn't committed yet, restricted to over-cap rows of the
        level above);
      * ``final_sized`` — the deepest re-blocked frame, each row carrying
        its bucket size ``n_sub`` (the query filters n_sub ≤ cap before
        joining).

    Plan shape: each level is ONE shuffle on its key set feeding a count
    window — the same single-pass pattern as _capped_shingles — and the
    small/big branches of each level fork after that Exchange, so Spark
    reuses it. Deeper levels run only on rows of still-over-cap buckets,
    so the extra levels cost ~nothing on corpora that never overflow."""
    keyed = _simhash_keyed(sigs)
    key_cols = ["slot", "key"]
    rest = "rest"
    cur = keyed
    capped: list[tuple[DataFrame, list[str]]] = []
    for spans, (slot_c, key_c, next_rest) in zip(_CASCADE_SPANS, _LEVEL_COLS):
        sized = cur.withColumn(
            "n_b", F.count("*").over(Window.partitionBy(*key_cols))
        )
        capped.append(
            (
                sized.filter(F.col("n_b") <= _MAX_BUCKET).select(
                    "doc_id", "simhash", *key_cols
                ),
                list(key_cols),
            )
        )
        subs = F.array(
            *[
                F.struct(
                    F.lit(j).alias(slot_c),
                    F.shiftrightunsigned(F.col(rest), off)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias(key_c),
                    # next_rest: rest with this span removed — the key
                    # source one level down
                    F.shiftleft(
                        F.shiftrightunsigned(F.col(rest), off + width), off
                    )
                    .bitwiseOR(F.col(rest).bitwiseAND(F.lit((1 << off) - 1)))
                    .alias(next_rest),
                )
                for j, (off, width) in enumerate(spans)
            ]
        )
        cur = (
            sized.filter(F.col("n_b") > _MAX_BUCKET)
            .select("doc_id", "simhash", *key_cols, F.explode(subs).alias("sb"))
            .select(
                "doc_id",
                "simhash",
                *key_cols,
                F.col(f"sb.{slot_c}").alias(slot_c),
                F.col(f"sb.{key_c}").alias(key_c),
                F.col(f"sb.{next_rest}").alias(next_rest),
            )
        )
        key_cols = key_cols + [slot_c, key_c]
        rest = next_rest
    final_sized = cur.drop(rest).withColumn(
        "n_sub", F.count("*").over(Window.partitionBy(*key_cols))
    )
    return capped, final_sized, key_cols


def q_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup: 60-bit signatures (pure JVM, see
    _simhash_signatures); identical-signature cliques collapse to Hamming-0
    star edges (rep → member — linear, the only output shape that survives
    a corpus where signatures concentrate); then representative pairs
    within Hamming ≤ 3 found by the 4-table pigeonhole trick (split 60
    bits into 4 × 15-bit keys; near-dups share ≥ 1 exact key) — bucket
    join with a bucket-size cap, no cross product. Over-cap buckets
    re-block on 4 sub-keys from the out-of-slot bits (_SUB_SPANS —
    exact-recall multi-level blocking, 5 levels deep; see the scale notes
    above) instead of dropping their pairs wholesale. Fully oracle-paired
    (md5-based hash + BIGINT bit ops exist in DuckDB).

    OUTPUT CONTRACT (r5 ADVICE): rows are NOT the complete Hamming ≤ 3
    pair enumeration. Hamming-0 rows are rep→member STAR edges of
    identical-signature cliques; Hamming 1-3 rows pair clique
    REPRESENTATIVES only. Intra-clique member pairs and cross-clique
    member pairs are implicit — a consumer needing the full quadratic
    enumeration must expand through the star edges (the collapsed form is
    the point — a 7,357-doc clique is 7,356 rows here vs 27M expanded)."""
    reps, exact_edges = _simhash_reps(_simhash_tagged(spark, sf))
    capped, final_sized, final_keys = _simhash_blocked(reps)
    l_final = final_sized.filter(F.col("n_sub") <= _MAX_BUCKET).drop("n_sub")

    def pairs(frame: DataFrame, keys: list[str]) -> DataFrame:
        a, b = frame.alias("a"), frame.alias("b")
        cond = reduce(
            operator.and_,
            [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys],
        ) & (F.col("a.doc_id") < F.col("b.doc_id"))
        return a.join(b, cond).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )

    cand = reduce(
        DataFrame.unionByName,
        [pairs(f, keys) for f, keys in capped] + [pairs(l_final, final_keys)],
    ).distinct()
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int")
    rep_pairs = (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )
    return exact_edges.unionByName(rep_pairs)


_DUCK_VOTES = ",\n         ".join(
    f"CAST(sum((h >> {b}) & 1) AS BIGINT) AS v{b}" for b in range(_SIMHASH_BITS)
)
_DUCK_SIM = " + ".join(
    f"(CASE WHEN 2 * v{b} > n_tok THEN (CAST(1 AS BIGINT) << {b}) "
    f"ELSE CAST(0 AS BIGINT) END)"
    for b in range(_SIMHASH_BITS)
)

def _duck_cascade_sql() -> str:
    """Oracle CTE chain for the cascaded blocking, generated from the SAME
    _CASCADE_SPANS schedule that drives _simhash_blocked — deepening the
    cascade is one schedule entry and both engines move together. Emits,
    per level ℓ: ``sizedℓ`` (bucket counts on the level's key set),
    ``lℓ`` (rows of ≤-cap buckets), ``subℓ_all`` (over-cap rows re-keyed
    one level down), then the final capped level and the ``cand`` union of
    all levels' bucket self-joins."""
    ctes: list[str] = []
    branches: list[tuple[str, list[str]]] = []
    key_cols = ["slot", "key"]
    rest, src = "rest", "keyed_all"
    lvl = 0
    for spans, (slot_c, key_c, next_rest) in zip(_CASCADE_SPANS, _LEVEL_COLS):
        lvl += 1
        vals = ", ".join(f"({j}, {o}, {w})" for j, (o, w) in enumerate(spans))
        keys = ", ".join(key_cols)
        ctes.append(
            f"sized{lvl} AS (\n  SELECT *, count(*) OVER "
            f"(PARTITION BY {keys}) AS n_b FROM {src})"
        )
        ctes.append(
            f"l{lvl} AS (\n  SELECT doc_id, simhash, {keys} "
            f"FROM sized{lvl} WHERE n_b <= {_MAX_BUCKET})"
        )
        ctes.append(
            f"sub{lvl}_all AS (\n"
            f"  SELECT doc_id, simhash, {keys}, t.{slot_c},\n"
            f"         ({rest} >> t.o) & ((CAST(1 AS BIGINT) << t.w) - 1)"
            f" AS {key_c},\n"
            f"         (({rest} >> (t.o + t.w)) << t.o)\n"
            f"           | ({rest} & ((CAST(1 AS BIGINT) << t.o) - 1))"
            f" AS {next_rest}\n"
            f"  FROM sized{lvl}, (VALUES {vals}) t({slot_c}, o, w)\n"
            f"  WHERE n_b > {_MAX_BUCKET})"
        )
        branches.append((f"l{lvl}", list(key_cols)))
        key_cols = key_cols + [slot_c, key_c]
        rest, src = next_rest, f"sub{lvl}_all"
    lvl += 1
    ctes.append(
        f"l{lvl} AS (\n  SELECT * FROM {src}\n  QUALIFY count(*) OVER "
        f"(PARTITION BY {', '.join(key_cols)}) <= {_MAX_BUCKET})"
    )
    branches.append((f"l{lvl}", key_cols))
    joins = []
    for i, (name, keys) in enumerate(branches):
        on = " AND ".join(f"a.{k} = b.{k}" for k in keys)
        sel = (
            "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,\n"
            "           a.simhash AS sim_a, b.simhash AS sim_b"
            if i == 0
            else "SELECT a.doc_id, b.doc_id, a.simhash, b.simhash"
        )
        joins.append(
            f"    {sel}\n    FROM {name} a JOIN {name} b\n"
            f"      ON {on} AND a.doc_id < b.doc_id"
        )
    cand = (
        "cand AS (\n  SELECT DISTINCT doc_a, doc_b, sim_a, sim_b FROM (\n"
        + "\n    UNION ALL\n".join(joins)
        + "))"
    )
    return ",\n".join(ctes + [cand])

ORACLE_SIMHASH = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(lower(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS w
  FROM documents),
hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM toks),
votes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         {_DUCK_VOTES}
  FROM hashed GROUP BY doc_id),
sigs AS (SELECT doc_id, {_DUCK_SIM} AS simhash FROM votes),
tagged AS (
  SELECT doc_id, simhash, min(doc_id) OVER (PARTITION BY simhash) AS rep
  FROM sigs),
exact_edges AS (
  SELECT rep AS doc_a, doc_id AS doc_b, 0 AS hamming
  FROM tagged WHERE doc_id <> rep),
reps AS (SELECT doc_id, simhash FROM tagged WHERE doc_id = rep),
keyed_all AS (
  SELECT doc_id, simhash, s.slot,
         (simhash >> (s.slot * {_SLOT_BITS})) & {(1 << _SLOT_BITS) - 1} AS key,
         ((simhash >> ((s.slot + 1) * {_SLOT_BITS})) << (s.slot * {_SLOT_BITS}))
           | (simhash & ((CAST(1 AS BIGINT) << (s.slot * {_SLOT_BITS})) - 1)) AS rest
  FROM reps, (VALUES (0), (1), (2), (3)) s(slot)),
{_duck_cascade_sql()}
SELECT doc_a, doc_b, CAST(hamming AS INTEGER) AS hamming FROM exact_edges
UNION ALL
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
"""


# ──────────── embedding near-dup: random-hyperplane LSH + verify ─────────────
#
# Round 3 (VERDICT r2 #3/#4): the all-pairs O(n²) theta join is GONE — this
# is now the same capped-bucket LSH pattern as minhash, so no query in the
# registry carries a quadratic plan. Hyperplanes are the first _N_PLANES
# corpus vectors (deterministic, oracle-mirrorable); each vector gets
# _LSH_BANDS band keys of _LSH_BITS sign-bits each (SimHash for real
# vectors: sign(v·h) per hyperplane); candidates share a band key within a
# capped bucket and are verified with the EXACT cosine (≥ the threshold).
# Semantics = "pairs this LSH scheme finds", recomputed identically by the
# DuckDB oracle — the LSH-recall-vs-exact tradeoff is the operator's
# contract, exactly as with MinHash.

_LSH_BANDS = 5
_LSH_BITS = 6
_N_PLANES = _LSH_BANDS * _LSH_BITS  # vec_id < 30 double as hyperplanes
_COS_THRESHOLD = 0.35  # ≈2.8σ on the near-orthogonal synthetics; a real
# near-dup corpus would use ~0.9, where this band/bit choice has ~92% recall


# canonical left-to-right dot fold + vector reader (with hoisted norm) —
# ONE implementation shared with the ANN family so the IEEE fold that the
# DuckDB oracles mirror can never diverge between modules (self-review r5)
from .similarity import _dot as _vdot  # noqa: E402
from .similarity import _emb as _embedding_vectors  # noqa: E402


def _embedding_banded(spark: SparkSession, sf: str) -> DataFrame:
    """(vec_id, v, band, key) random-hyperplane LSH band rows, _LSH_BITS
    sign-bits per band (the oracle's key fold)."""
    e2 = _embedding_vectors(spark, sf)
    # broadcast single-row hyperplane frame; array_sort(collect_list) pins
    # plane order (collect_list alone is partition-order-dependent)
    # column-derived-constant equi key (vec_id*0 — not constant-foldable:
    # NULL×0 is NULL, vec_id is a nullable scan column) on BOTH sides so the
    # single-row broadcast attach plans as BroadcastHashJoin, keeping every
    # executedPlan of the similarity/ANN family BNLJ-free (the three theta
    # joins j5/j11/j20 intentionally plan BNLJ against literal ≤3-row
    # dims); the key is a groupBy key so it survives the
    # aggregate un-folded
    planes = (
        e2.filter(F.col("vec_id") < _N_PLANES)
        .groupBy((F.col("vec_id") * 0).alias("_k"))
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "v"))).alias("planes"))
    )
    with_bits = e2.withColumn("_k", F.col("vec_id") * 0).join(F.broadcast(planes), "_k").select(
        "vec_id",
        "v",
        F.transform(
            "planes", lambda p: (_vdot(F.col("v"), p["v"]) >= 0).cast("int")
        ).alias("bits"),
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.aggregate(
                    F.slice("bits", b * _LSH_BITS + 1, _LSH_BITS),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc * 2 + x,
                ).alias("key"),
            )
            for b in range(_LSH_BANDS)
        ]
    )
    return with_bits.select(
        "vec_id", "v", F.explode(band_structs).alias("bk")
    ).select("vec_id", "v", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def embedding_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup via random-hyperplane LSH: bands×bits sign-bits
    per vector (vs the broadcast hyperplane set), folded into band keys in
    plane order (codegen'd aggregate — no shuffle for signatures), banded
    bucket self-join with the _MAX_BUCKET cap, then exact-cosine
    verification of candidates only. Shuffles are key-partitioned (band
    key / vec_id) — never all-pairs."""
    # banded ids are memo-persisted (round 7): the ok-aggregation and both
    # self-join sides otherwise each re-run the 30-plane sign-bit pipeline
    # (bands×bits interpreted HOF dots per vector, profiled 3× per query);
    # the persisted frame is id+key only — a few MB even at the 100k tier
    banded_ids = _memo_frame(
        "emb_banded",
        spark,
        sf,
        lambda: _embedding_banded(spark, sf).select("vec_id", "band", "key"),
    )
    ok = (
        banded_ids.groupBy("band", "key")
        .agg(F.count("*").alias("n_bucket"))
        .filter(F.col("n_bucket") <= _MAX_BUCKET)
        .select("band", "key")
    )
    n_vec = spark.read.parquet(f"{sf}/embeddings.parquet").count()
    # byte-derived broadcast guard shared by the two planner-correcting
    # hints below (band rows ~24 B each; ok is one row per bucket, smaller
    # still). Without the hints the static planner — working from a cache
    # estimate vs an aggregate estimate — picked the CACHED band frame as
    # the build side and streamed the few-hundred-row ok aggregate, whose
    # post-agg exchange AQE coalesces to ONE partition; the bucket
    # self-join fan-out and every cosine downstream then ran in a single
    # task (measured: a 1-task 108 s stage at sf1.0). Past the guard the
    # plain shuffle joins stand — at that scale the exchanges are big
    # enough that AQE keeps real parallelism.
    broadcast_bands = n_vec * _LSH_BANDS * 24 <= 48 * 1024 * 1024
    wrap_bands = F.broadcast if broadcast_bands else (lambda df: df)
    # ids ONLY through the bucket self-join: carrying the two 64-dim
    # double arrays through it shuffled ~1 KB/candidate (≈30 GB at the
    # 100k corpus's 30M candidates, on a 15 GB/s host) — measured 65-155 s
    # walls; the id-only join moves ~16 B per candidate and the vectors
    # are attached to candidates only.
    capped_ids = banded_ids.join(wrap_bands(ok), ["band", "key"])
    a = capped_ids.alias("a")
    b = wrap_bands(capped_ids.alias("b"))
    # NO pre-verify distinct (round 7): candidate multiplicity is measured
    # at 1.006 at sf1.0 AND the 100k adaptive-bits tier (a pair rarely
    # agrees on a second band), so deduplicating 16-30M candidate rows
    # cost a full exchange + two hash aggregates to remove <1% of the
    # cosine evaluations. The ≥-threshold filter keeps ~0.7%, so the
    # distinct now runs on the tiny verified survivor set instead —
    # identical output rows (duplicates carry identical cosines).
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
    )
    # norms hoisted to ONCE per vector (100k sqrt-dots) instead of twice
    # per candidate (2×30M interpreted HOF dots — profiled as the bulk of
    # the verify stage's wall); _emb carries the norm already, and the
    # value is IEEE-identical to inline computation (same inputs, same
    # left-to-right fold), so the DuckDB oracle needs no change.
    # Vector re-attach: broadcast only while the vector frame actually
    # fits broadcast comfort; past the threshold the SAME two joins run as
    # forced shuffle joins keyed on vec_id — the asymmetry stands either
    # way (the vector payload moves per candidate row exactly once, and
    # the threshold filter shrinks the frame before the final distinct).
    # A forced broadcast would OOM the driver on multi-million-vector
    # corpora. The cutoff is
    # BYTE-derived: rows × dim × 8 B raw payload vs a 256 MB budget
    # (≈ 500k vectors at 64 dims). Round-7 measurement moved the budget
    # up from r5's conservative 48 MB: at the 100k tier (51 MB raw,
    # ~90 MB framed per side) the broadcast costs ~2-3 s total, while
    # the non-broadcast arm's second attach join must EXCHANGE AND SORT
    # the candidate frame with first-side vectors attached (~16 GB at
    # 30M candidates) — measured 50-250 s walls under host contention;
    # r6 only avoided that cliff because mis-estimated stats happened to
    # auto-broadcast the vector side anyway. Past the budget the merge
    # hint below stands (the price is real but bounded and the driver
    # survives). Cost of deciding: parquet count() is metadata-only and
    # the dim probe reads one row — both trivial next to the bucket join
    # this guards.
    row0 = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .select(F.size("embedding").alias("d"))
        .first()
    )
    dim = row0["d"] if row0 else 0
    vectors_fit = n_vec * dim * 8 <= 256 * 1024 * 1024
    attach = F.broadcast if vectors_fit else (lambda df: df)
    if not vectors_fit:
        # past broadcast comfort the attach joins MUST shuffle by vec id:
        # the candidate side's static estimate descends from the cached
        # band frame's few-MB stats, so without the hint the planner
        # auto-broadcasts the multi-ten-million-row PAIR side instead
        # (measured 21 s → 105 s at the 100k tier when that fired)
        cand = cand.hint("merge")
    vecs = _embedding_vectors(spark, sf)
    cand = cand.join(
        attach(
            vecs.select(
                F.col("vec_id").alias("vec_a"),
                F.col("v").alias("va"),
                F.col("nv").alias("norm_a"),
            )
        ),
        "vec_a",
    ).join(
        attach(
            vecs.select(
                F.col("vec_id").alias("vec_b"),
                F.col("v").alias("vb"),
                F.col("nv").alias("norm_b"),
            )
        ),
        "vec_b",
    )
    cos = _vdot(F.col("va"), F.col("vb")) / (F.col("norm_a") * F.col("norm_b"))
    # raw double: both engines fold left-to-right → bit-identical cosines;
    # fractional round() would be LESS portable (string-vs-binary rounding)
    return (
        cand.withColumn("cosine", cos)
        .filter(F.col("cosine") >= _COS_THRESHOLD)
        .select("vec_a", "vec_b", "cosine")
        .distinct()
    )


def q_dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Gate form of embedding_near_dup (the oracle SQL below hardcodes
    the same 30-plane key fold)."""
    return embedding_near_dup(spark, sf)


_DDOT = "list_reduce(list_transform(list_zip({x}, {y}), p -> p[1] * p[2]), (a, b) -> a + b)"
_DCOS = (
    f"({_DDOT.format(x='a.v', y='b.v')} / "
    f"(sqrt({_DDOT.format(x='a.v', y='a.v')}) * sqrt({_DDOT.format(x='b.v', y='b.v')})))"
)

ORACLE_EMB_COSINE = f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
planes AS (SELECT vec_id AS plane_id, v AS h FROM v WHERE vec_id < {_N_PLANES}),
bits AS (
  SELECT e.vec_id, p.plane_id,
         CASE WHEN {_DDOT.format(x='e.v', y='p.h')} >= 0 THEN 1 ELSE 0 END AS bit
  FROM v e CROSS JOIN planes p),
keys_all AS (
  SELECT vec_id, plane_id // {_LSH_BITS} AS band,
         CAST(sum(bit * (1 << ({_LSH_BITS - 1} - plane_id % {_LSH_BITS}))) AS INTEGER) AS key
  FROM bits GROUP BY 1, 2),
keys AS (
  SELECT * FROM keys_all
  QUALIFY count(*) OVER (PARTITION BY band, key) <= {_MAX_BUCKET}),
cand AS (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM keys x JOIN keys y
    ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id)
SELECT c.vec_a, c.vec_b, {_DCOS} AS cosine
FROM cand c
JOIN v a ON a.vec_id = c.vec_a
JOIN v b ON b.vec_id = c.vec_b
WHERE {_DCOS} >= {_COS_THRESHOLD}
"""


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
}

ORACLES = {
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "dedup_minhash_lsh": ORACLE_MINHASH_LSH,
    "dedup_simhash": ORACLE_SIMHASH,
    "dedup_embedding_cosine": ORACLE_EMB_COSINE,
}
