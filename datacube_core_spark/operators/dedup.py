"""Deduplication suite over the documents corpus (task-brief first-class ops).

Hashing and sketching stay JVM-side (Catalyst higher-order functions +
``md5``-derived integer hashes): the sketches (minhash, simhash) are
computed with explode + aggregate plans, which scale as ordinary
shuffles.  The one Python stage is in :func:`with_shingles`: tokens are
split in Catalyst, then a ``mapInPandas`` Arrow kernel assembles and
dedups each document's n-gram strings (byte-identical to
:func:`shingles_col`'s).

The hash primitive is ``md5`` because it is bit-identical in Spark and
DuckDB: every sketch operator here ships with a ``sql_*`` twin generator
producing the exact DuckDB SQL, so the driver's oracle gate verifies the
full pipeline (hashing, permutations, banding, blocking) value-for-value.

* exact dedup        — group by content fingerprint (md5 of normalized text)
* n-gram Jaccard     — exact pairwise similarity via shingle equi-join
                       (SQL-expressible → oracle-checked)
* MinHash + LSH      — 64-perm minhash over shingle hashes, banded LSH
                       candidate generation, exact-Jaccard verification
* SimHash            — 64-bit per-token-hash majority sketch + Hamming
                       blocking for near-dup candidates

Reference analog: ODC's duplicate-detection self-join
(``drivers/postgres/_api.py:727-800``) is the exact-dedup shape; the
sketch-based operators are the web-scale extension the task brief adds.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint_col

# ---------------------------------------------------------------------------
# shingling (pure Catalyst)
# ---------------------------------------------------------------------------

def shingles_col(text_col, n: int = 3):
    """Distinct word n-gram shingles of lowercased text as an array column."""
    toks = F.split(F.lower(F.trim(text_col)), r"\s+")
    n_grams = F.size(toks) - (n - 1)
    sz = F.greatest(n_grams, F.lit(0))
    # zip_with over n shifted length-aligned slices — ~4x faster than the
    # per-index slice+array_join form (measured; per-element element_at is
    # ~3x slower still)
    grams = F.slice(toks, 1, sz)
    for i in range(1, n):
        grams = F.zip_with(grams, F.slice(toks, i + 1, sz), lambda a, b: F.concat_ws(" ", a, b))
    empty = F.array().cast("array<string>")
    return F.when(n_grams >= 1, F.array_distinct(grams)).otherwise(empty)


def with_shingles(docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per (doc, distinct shingle): the substrate for Jaccard and
    minhash.  ``n_sh`` carries each doc's distinct-shingle count.

    r7: tokenization stays JVM-side (the same regex split as
    :func:`shingles_col`), but the n-gram assembly + dedup runs in an
    Arrow kernel — Catalyst's ``zip_with``/``array_distinct`` chain is
    interpreted per element (no codegen for higher-order functions) and
    dominated every shingle pipeline (guide §4.2).  The kernel emits
    byte-identical strings (pure ``' '``-joins of the very tokens the
    JVM split produced), so every downstream hash/join/oracle contract
    is unchanged — pinned by tests/test_dedup.py's equivalence test and
    the green ngram_jaccard/minhash_lsh oracles."""
    import numpy as np
    import pandas as pd

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("_t"))
    id_type = dict(base.dtypes)["doc_id"]
    schema = f"doc_id {id_type}, n_sh int, shingle string"

    def kernel(batches):
        for pdf in batches:
            tarrs = pdf["_t"].tolist()
            if not tarrs:
                continue
            # r7 vectorized form (measured 1.8x over the per-shingle
            # ``' '.join`` loop, byte-identical rows): flatten every
            # doc's tokens into ONE object array, n-gram by C-level
            # elementwise Series concat of n shifted views, mask the
            # grams that straddle a doc boundary, then one hash-based
            # drop_duplicates for the per-doc distinct set.
            lens = np.fromiter((len(t) for t in tarrs), dtype=np.int64,
                               count=len(tarrs))
            flat = np.concatenate(
                [np.asarray(t, dtype=object) for t in tarrs]
            )
            total = len(flat)
            if total < n:
                continue
            s = pd.Series(flat)
            g = s[: total - (n - 1)].reset_index(drop=True)
            for i in range(1, n):
                off = s[i: total - (n - 1) + i].reset_index(drop=True)
                g = g + " " + off.values
            ends = np.cumsum(lens)
            doc_idx = np.repeat(np.arange(len(lens)), lens)
            # gram starting at flat position p is within one doc iff
            # p + n - 1 stays left of that doc's end offset
            valid = ((np.arange(total) + n - 1) < ends[doc_idx])[: total - (n - 1)]
            did_rep = np.repeat(pdf["doc_id"].values, lens)[: total - (n - 1)]
            df = pd.DataFrame(
                {"doc_id": did_rep[valid], "shingle": g[valid].values}
            ).drop_duplicates()
            if not len(df):
                continue
            cnt = df.groupby("doc_id", sort=False)["shingle"].transform(
                "size"
            ).astype("int32")
            df.insert(1, "n_sh", cnt)
            yield df

    return base.mapInPandas(kernel, schema)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Content-identical groups: fingerprint → (n, keeper=min id, max id)."""
    return (
        docs.select(fingerprint_col(F.col(text_col)).alias("fp"), F.col(id_col).alias("doc_id"))
        .groupBy("fp")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("keeper"), F.max("doc_id").alias("dup_max"))
        .where(F.col("n") > 1)
    )


# ---------------------------------------------------------------------------
# skew-safe document-frequency cut
# ---------------------------------------------------------------------------

def _df_cut(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles appearing in more than ``max_df`` docs, then recount
    ``n_sh`` over the kept-shingle space.

    Skew-safety is the point: the heavy-hitter list is computed with a
    ``groupBy(shingle).count()`` (hash aggregate WITH partial/map-side
    combine — a hot stop-shingle contributes one partial row per input
    partition, never a single-task pile-up) and is tiny by construction
    (≤ |rows| / max_df entries), so it broadcasts; the cut itself is a
    broadcast ``left_anti`` join.  The earlier Window-over-shingle form
    measured slightly cheaper at sf0.1 but funnels every row of a hot
    shingle into ONE task before filtering — the guard against quadratic
    buckets must not itself be a straggler/OOM on the very key it guards
    (see scripts/skew_bench.py stop-shingle case for the measured bound).

    The per-doc recount window is partitioned on ``doc_id`` — bounded by a
    single document's shingle count, inherently skew-safe.
    """
    # NOTE: the shingle table feeds both the heavy-hitter aggregate
    # (broadcast build side) and the anti-join probe side, so the
    # shingling plan runs twice.  A localCheckpoint dedup of that compute
    # was MEASURED SLOWER at sf0.1 (9.8s vs 6.2s — materializing the
    # exploded shingle table costs more than re-deriving it); recompute
    # is the right trade at any scale because shingling is map-only.
    hot = sh.groupBy("shingle").agg(F.count("*").alias("_df")).where(F.col("_df") > F.lit(max_df)).select("shingle")
    return (
        sh.join(F.broadcast(hot), "shingle", "left_anti")
        .withColumn("n_sh", F.count("*").over(Window.partitionBy("doc_id")))
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard pairs (brute-force oracle-checkable path)
# ---------------------------------------------------------------------------

def jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """All (a, b) doc pairs with shingle-Jaccard ≥ threshold, a < b.

    Relational plan: shingle equi-join → per-pair intersection count →
    |A∪B| = n_a + n_b − common.  The shingle join is the standard
    set-similarity join.

    ``max_df`` is the 100 TB skew guard: shingles appearing in more than
    ``max_df`` docs are dropped BEFORE the equi-join, bounding every join
    bucket to ≤ max_df² candidate pairs (a single stop-shingle like
    "the the the" otherwise creates a quadratic bucket that AQE cannot
    split — the explosion is in the post-join groupBy, not the join key).
    With the cut, Jaccard is computed over the *kept*-shingle space
    (n_a/n_b are recounted after the cut), so the semantics stay exact
    for that space; pairs whose every shared shingle is ultra-common are
    the documented false negatives.  The DuckDB twin
    (:func:`sql_jaccard_pairs`) reproduces the same cut, so oracle
    parity holds for any cutoff.
    """
    sh = with_shingles(docs, n, id_col, text_col)
    if max_df is not None:
        # materialize the POST-CUT table once (r7): both self-join sides
        # and the recount window consume it; un-checkpointed, the
        # shingling + cut + window chain ran once per side (measured
        # 5.3s → 2.0s warm at sf0.1 — the earlier "materialization is
        # slower" note measured the PRE-cut exploded table, which is
        # strictly larger and feeds only one consumer)
        sh = _df_cut(sh, max_df).localCheckpoint(eager=False)
    a = sh.select(F.col("doc_id").alias("a"), "shingle", F.col("n_sh").alias("n_a"))
    b = sh.select(F.col("doc_id").alias("b"), "shingle", F.col("n_sh").alias("n_b"))
    common = (
        a.join(b, "shingle")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b", "n_a", "n_b")
        .agg(F.count("*").alias("common"))
    )
    jac = F.col("common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double")
    return common.select("a", "b", jac.alias("jaccard")).where(F.col("jaccard") >= F.lit(threshold))


# ---------------------------------------------------------------------------
# cross-engine hash primitive (Spark ≡ DuckDB, bit-for-bit)
# ---------------------------------------------------------------------------

def md5_h32_col(col, start: int = 1):
    """Unsigned 32-bit hash from md5 hex digits ``[start, start+8)``.

    Spark: ``conv(substr(md5(utf8), start, 8), 16, 10)``; the DuckDB twin
    is ``CAST(concat('0x', substr(md5(x), start, 8)) AS BIGINT)`` — both
    engines produce the identical integer, which is what lets the sketch
    operators below be oracle-verified end to end.
    """
    return F.conv(F.substring(F.md5(F.encode(col, "UTF-8")), start, 8), 16, 10).cast("long")


def sql_md5_h32(expr: str, start: int = 1) -> str:
    """DuckDB twin of :func:`md5_h32_col`."""
    return f"CAST(concat('0x', substr(md5({expr}), {start}, 8)) AS BIGINT)"


# shared corpus→shingles CTE chain for the DuckDB twins (matches
# shingles_col/with_shingles semantics; proven equivalent by the green
# ngram_jaccard oracle)
def sql_shingle_ctes(corpus_cte: str, n: int = 3) -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(n))
    return f"""{corpus_cte.strip()},
toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM corpus
),
sh AS (
  SELECT DISTINCT doc_id, {gram} AS shingle
  FROM toks, UNNEST(generate_series(1, len(t) - {n - 1})) AS s(i)
  WHERE len(t) >= {n}
),
cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1)"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# 64 fixed permutation parameters (deterministic; a < 2^30 keeps
# a*h32 + b < 2^62, no int64 overflow JVM-side)
_MH_PRIME = 4294967291  # largest 32-bit prime
_MH_K = 64

# band-hash fold: (acc * MULT + m) % MOD — stays < 2^60, identical BIGINT
# arithmetic in both engines (collisions only add candidates; the exact
# verify stage removes them, and the oracle reproduces the same fold)
_BH_MULT = 1000003
_BH_MOD = 1 << 40


def _perm_params(k: int = _MH_K) -> List[Tuple[int, int]]:
    params = []
    a, b = 1103515245, 12345
    x = 42
    for _ in range(k):
        x = (a * x + b) % (1 << 30)
        pa = x | 1  # odd, < 2^30
        x = (a * x + b) % (1 << 30)
        pb = x
        params.append((pa, pb))
    return params


def _signatures_from_shingles(sh: DataFrame, k: int = _MH_K) -> DataFrame:
    """(doc_id, sig) from a (doc_id, shingle) DataFrame: h32 = 32-bit
    md5-derived hash → k parallel min-aggregates of (a_k·h32 + b_k) mod p."""
    hashed = sh.select("doc_id", md5_h32_col(F.col("shingle")).alias("h"))
    aggs = [
        F.min((F.col("h") * F.lit(pa) + F.lit(pb)) % F.lit(_MH_PRIME)).alias(f"m{i}")
        for i, (pa, pb) in enumerate(_perm_params(k))
    ]
    sig = hashed.groupBy("doc_id").agg(*aggs)
    return sig.select("doc_id", F.array(*[F.col(f"m{i}") for i in range(k)]).alias("sig"))


def _band_hash_col(cols):
    """Deterministic fold of band member columns into one join key;
    DuckDB twin: :func:`_sql_band_hash`."""
    acc = cols[0]
    for c in cols[1:]:
        acc = (acc * F.lit(_BH_MULT) + c) % F.lit(_BH_MOD)
    return acc


def _sql_band_hash(names) -> str:
    acc = names[0]
    for nm in names[1:]:
        acc = f"(({acc}) * {_BH_MULT} + {nm}) % {_BH_MOD}"
    return acc


def minhash_signatures(docs: DataFrame, n: int = 3, k: int = _MH_K, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, sig array<long>[k]) — minhash over md5-derived shingle
    hashes.  Entirely JVM."""
    sh = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(shingles_col(F.col(text_col), n)).alias("shingle")
    )
    return _signatures_from_shingles(sh, k)


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    bands: int = 16,
    k: int = _MH_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    verify: bool = True,
) -> DataFrame:
    """Near-dup pairs via banded LSH over minhash signatures.

    bands=16 × rows=4 (k=64) targets recall ≈ 1-(1-t^4)^16 (~0.99 at
    t=0.7, ~0.86 at t=0.5).  Candidates are verified with exact
    shingle-Jaccard so precision is exact; output is (a, b, jaccard).
    """
    rows = k // bands
    # one shingle pass shared by the signature build AND the exact-Jaccard
    # verification (localCheckpoint: cheap materialization, avoids
    # recomputing the corpus + shingling twice)
    sh = with_shingles(docs, n, id_col, text_col).localCheckpoint(eager=False)
    sig = _signatures_from_shingles(sh.select("doc_id", "shingle"), k)
    band_arr = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                _band_hash_col([F.col("sig")[bi * rows + j] for j in range(rows)]).alias("bh"),
            )
            for bi in range(bands)
        ]
    )
    # materialize the banded table ONCE: both self-join sides consume it,
    # and un-checkpointed the 64-min-aggregate signature build (the
    # pipeline's most expensive stage) executes twice (guide §2.4/§5)
    banded = sig.select("doc_id", F.explode(band_arr).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    ).localCheckpoint(eager=False)
    left = banded.select(F.col("doc_id").alias("a"), "band", "bh")
    right = banded.select(F.col("doc_id").alias("b"), "band", "bh")
    cand = (
        left.join(right, ["band", "bh"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    if not verify:
        return cand

    # Bound the exact-Jaccard verify: the shingle table is semi-joined PER
    # SIDE on the candidate doc-id sets BEFORE the shingle self-join, so
    # the join touches only candidate docs' shingles — cost is
    # O(Σ df_cand²) over the LSH-selected docs instead of O(Σ df²) over
    # the full corpus (the unbounded form was the one data-dependent
    # quadratic plan in this pipeline: a corpus-wide stop-shingle blew it
    # up regardless of how few candidates LSH produced — bounded-input
    # proof in scripts/skew_bench.py).  ``cand`` is eagerly
    # localCheckpoint-ed so the banded-join plan runs ONCE and the
    # semi-joins + final pair restriction all read the materialized result
    # (the r1 measurement that found the semi-join slower was re-executing
    # the candidate plan to build it).
    # eager=False (r7): the lazy checkpoint still runs the banded-join
    # plan exactly once (the RDD materializes on first access and all
    # three verify references share its blocks) but folds the work into
    # the query's own job instead of a separate synchronous barrier
    cand = cand.localCheckpoint(eager=False)
    a = (
        sh.join(cand.select(F.col("a").alias("doc_id")), "doc_id", "left_semi")
        .select(F.col("doc_id").alias("a"), "shingle", F.col("n_sh").alias("n_a"))
    )
    b = (
        sh.join(cand.select(F.col("b").alias("doc_id")), "doc_id", "left_semi")
        .select(F.col("doc_id").alias("b"), "shingle", F.col("n_sh").alias("n_b"))
    )
    common = (
        a.join(b, "shingle")
        .join(cand, ["a", "b"], "left_semi")
        .groupBy("a", "b", "n_a", "n_b")
        .agg(F.count("*").alias("common"))
    )
    jac = F.col("common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double")
    return common.select("a", "b", jac.alias("jaccard")).where(F.col("jaccard") >= F.lit(threshold))


def sql_jaccard_pairs(
    corpus_cte: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> str:
    """DuckDB twin of :func:`jaccard_pairs`, including the df-cut."""
    src, cnt = "sh", "cnt"
    cut = ""
    if max_df is not None:
        cut = f""",
df_keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {max_df}),
shk AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN df_keep USING (shingle)),
cntk AS (SELECT doc_id, COUNT(*) AS n_sh FROM shk GROUP BY 1)"""
        src, cnt = "shk", "cntk"
    return f"""WITH {sql_shingle_ctes(corpus_cte, n)}{cut}
SELECT a.doc_id AS a, b.doc_id AS b,
       COUNT(*) / (ca.n_sh + cb.n_sh - COUNT(*)) AS jaccard
FROM {src} a JOIN {src} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
JOIN {cnt} ca ON ca.doc_id = a.doc_id
JOIN {cnt} cb ON cb.doc_id = b.doc_id
GROUP BY a.doc_id, b.doc_id, ca.n_sh, cb.n_sh
HAVING COUNT(*) / (ca.n_sh + cb.n_sh - COUNT(*)) >= {threshold}
"""


def sql_minhash_lsh(
    corpus_cte: str,
    n: int = 3,
    threshold: float = 0.5,
    bands: int = 16,
    k: int = _MH_K,
) -> str:
    """DuckDB twin of :func:`minhash_lsh_pairs` (verify=True) — reproduces
    the md5-derived shingle hash, the 64 permutation min-aggregates, the
    arithmetic band fold, the banded candidate join, and the exact-Jaccard
    verification, value-for-value."""
    rows = k // bands
    params = _perm_params(k)
    mins = ",\n       ".join(
        f"MIN((h * {pa} + {pb}) % {_MH_PRIME}) AS m{i}" for i, (pa, pb) in enumerate(params)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {bi} AS band, "
        f"{_sql_band_hash([f'm{bi * rows + j}' for j in range(rows)])} AS bh FROM sig"
        for bi in range(bands)
    )
    return f"""WITH {sql_shingle_ctes(corpus_cte, n)},
h AS (SELECT doc_id, {sql_md5_h32('shingle')} AS h FROM sh),
sig AS (
  SELECT doc_id,
       {mins}
  FROM h GROUP BY doc_id
),
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
)
SELECT a.doc_id AS a, b.doc_id AS b,
       COUNT(*) / (ca.n_sh + cb.n_sh - COUNT(*)) AS jaccard
FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
JOIN cand ON cand.a = a.doc_id AND cand.b = b.doc_id
JOIN cnt ca ON ca.doc_id = a.doc_id
JOIN cnt cb ON cb.doc_id = b.doc_id
GROUP BY a.doc_id, b.doc_id, ca.n_sh, cb.n_sh
HAVING COUNT(*) / (ca.n_sh + cb.n_sh - COUNT(*)) >= {threshold}
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_col_aggs(k: int = 64):
    """64 per-bit majority sums over the two 32-bit token-hash halves
    ``h_lo`` (bits 0..31) and ``h_hi`` (bits 32..63)."""
    aggs = []
    for b in range(k):
        src = F.col("h_lo") if b < 32 else F.col("h_hi")
        sh = b if b < 32 else b - 32
        aggs.append(
            F.sum(F.when(F.shiftright(src, sh).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"s{b}")
        )
    return aggs


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, simhash long): per-token md5-derived 64-bit hash (two
    32-bit halves), bitwise majority vote.

    JVM-only plan: explode tokens → 64 conditional-sum aggregates →
    reassemble bits.  Bit b set iff the majority sum is > 0.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    )
    # one md5 per token, two 32-bit halves sliced from the same digest
    # (the two-call form computed the digest twice per row)
    md = F.md5(F.encode(F.col("tok"), "UTF-8"))
    th = toks.select(
        "doc_id",
        F.conv(F.substring(md, 9, 8), 16, 10).cast("long").alias("h_lo"),
        F.conv(F.substring(md, 1, 8), 16, 10).cast("long").alias("h_hi"),
    )
    agg = th.groupBy("doc_id").agg(*simhash_col_aggs())
    bit_terms = [
        F.when(F.col(f"s{b}") > 0, F.lit(1).cast("long") * F.lit(2 ** b if b < 63 else -(2 ** 63))).otherwise(0)
        for b in range(64)
    ]
    total = bit_terms[0]
    for t in bit_terms[1:]:
        total = total + t
    return agg.select("doc_id", total.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Pigeonhole blocking: split 64 bits into (max_hamming+1) blocks — a
    pair within distance d must agree exactly on ≥1 block; equi-join per
    block, then exact popcount filter.  No cross join at any scale.
    """
    nb = max_hamming + 1
    width = 64 // nb
    # materialize the signature table ONCE: both blocked self-join sides
    # consume it, and un-checkpointed the token explode + md5 + 64-sum
    # sketch build executes twice (guide §2.4/§5); one narrow row per doc
    sh = simhash(docs, id_col, text_col).localCheckpoint(eager=False)
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftrightunsigned(F.col("simhash"), i * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("bv"),
            )
            for i in range(nb)
        ]
    )
    blocked = sh.select("doc_id", "simhash", F.explode(blocks).alias("b")).select(
        "doc_id", "simhash", F.col("b.blk").alias("blk"), F.col("b.bv").alias("bv")
    )
    left = blocked.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"), "blk", "bv")
    right = blocked.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"), "blk", "bv")
    cand = left.join(right, ["blk", "bv"]).where(F.col("a") < F.col("b")).select("a", "b", "ha", "hb").distinct()
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.select("a", "b", hamming.alias("hamming")).where(F.col("hamming") <= F.lit(max_hamming))


def sql_simhash_near(corpus_cte: str, max_hamming: int = 3) -> str:
    """DuckDB twin of :func:`simhash_near_pairs`.

    The pigeonhole blocking is *lossless* for Hamming ≤ max_hamming (a
    pair within distance d over (d+1) blocks must agree on ≥1 block), so
    the twin can skip the blocking stage and filter all pairs directly —
    the result set is provably identical.
    """
    s_exprs = []
    for b in range(64):
        src = "h_lo" if b < 32 else "h_hi"
        sh = b if b < 32 else b - 32
        s_exprs.append(f"SUM(CASE WHEN ({src} >> {sh}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}")
    bit_terms = [
        f"(CASE WHEN s{b} > 0 THEN {2 ** b if b < 63 else -(2 ** 63)} ELSE 0 END)"
        for b in range(64)
    ]
    return f"""WITH {corpus_cte.strip()},
toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok FROM corpus
),
th AS (
  SELECT doc_id,
         {sql_md5_h32('tok', 9)} AS h_lo,
         {sql_md5_h32('tok', 1)} AS h_hi
  FROM toks
),
agg AS (
  SELECT doc_id, {', '.join(s_exprs)} FROM th GROUP BY doc_id
),
simh AS (
  SELECT doc_id, {' + '.join(bit_terms)} AS simhash FROM agg
)
SELECT a.doc_id AS a, b.doc_id AS b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM simh a JOIN simh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# duplicate-cluster resolution (connected components over near-dup pairs)
# ---------------------------------------------------------------------------

def dup_clusters(
    pairs: DataFrame,
    max_iters: int = 20,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Connected components over a near-dup pair list: every doc gets the
    MIN doc id of its duplicate cluster as ``cluster`` — the "keep one
    canonical doc per cluster" step that closes a dedup pipeline.

    Plan: iterative min-label propagation + POINTER JUMPING (each round
    additionally replaces a node's label with its label's label — the
    large-star/small-star contraction idea), which converges in
    O(log diameter) rounds instead of O(diameter); each round is two
    shuffles; labels are localCheckpoint-truncated like the lineage
    fixpoint.  Raises if the fixpoint is not reached within
    ``max_iters`` (silently-partial components would corrupt a dedup
    keep-list).  Returns (doc_id, cluster).
    """
    # materialize the incoming pair list ONCE before mirroring: the
    # two union branches otherwise replay the caller's whole pair
    # pipeline (for the minhash entry that is the full LSH + verify
    # plan) twice (guide §2.4/§5)
    p0 = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .localCheckpoint(eager=False)
    )
    edges = (
        p0.unionByName(p0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("u").alias("doc_id"))
        .distinct()
        .withColumn("cluster", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iters):
        neigh_min = (
            edges.join(labels, edges["v"] == labels["doc_id"], "inner")
            .groupBy(F.col("u").alias("doc_id"))
            .agg(F.min("cluster").alias("nmin"))
        )
        stepped = labels.join(neigh_min, "doc_id", "left").select(
            "doc_id",
            F.col("cluster").alias("_prev"),
            F.least(F.col("cluster"), F.coalesce(F.col("nmin"), F.col("cluster"))).alias("cluster"),
        )
        # pointer jumping: label <- label[label] (halves chain depth).
        # The round's previous label rides along as ``_prev`` so the
        # convergence check below is a predicate scan of the checkpointed
        # result — NOT an extra label-vs-label join per round (which was
        # one full shuffle per iteration of the slowest pipeline query).
        jump = stepped.select(F.col("doc_id").alias("jd"), F.col("cluster").alias("jc"))
        new_labels = (
            stepped.join(jump, stepped["cluster"] == jump["jd"], "left")
            .select(
                "doc_id",
                "_prev",
                F.least(F.col("cluster"), F.coalesce(F.col("jc"), F.col("cluster"))).alias("cluster"),
            )
            .localCheckpoint(eager=True)
        )
        labels = new_labels.select("doc_id", "cluster")
        if len(new_labels.where(F.col("cluster") != F.col("_prev")).take(1)) == 0:
            converged = True
            break
    if not converged:
        raise ValueError(
            f"dup_clusters did not converge within max_iters={max_iters} "
            "(graph deeper than 2^iters?) — raise max_iters"
        )
    return labels


def sql_dup_clusters(pairs_sql: str) -> str:
    """DuckDB twin: component id = min(node reachable), via a recursive
    reachability CTE over the undirected edges (``pairs_sql`` must yield
    columns a, b)."""
    return f"""WITH RECURSIVE pr AS ({pairs_sql}),
edges AS (
  SELECT a AS u, b AS v FROM pr UNION SELECT b AS u, a AS v FROM pr
),
reach AS (
  SELECT u AS root, u AS node FROM edges
  UNION
  SELECT r.root, e.v AS node FROM reach r JOIN edges e ON e.u = r.node
)
SELECT root AS doc_id, MIN(node) AS cluster FROM reach GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Passage-level span dedup (exact duplicated W-token windows across docs)
# ---------------------------------------------------------------------------


def doc_spans(
    docs: DataFrame,
    window: int = 30,
    stride: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One row per (doc, token-window): sliding windows of ``window``
    lowercased whitespace tokens at ``stride``, each hashed (md5/16) —
    the substrate for exact PASSAGE-level dedup (the distributed analog
    of suffix-array exact-substring dedup over training corpora:
    boilerplate/licence blocks repeat verbatim across documents even when
    whole-doc fingerprints differ).  Docs shorter than ``window`` tokens
    emit nothing (whole-doc dedup covers them).

    Scale shape: pure Catalyst (split → sequence → explode → slice →
    md5); fan-out ≈ n_tokens/stride rows per doc; everything downstream
    is hash aggregation with map-side partial combine — a boilerplate
    span in millions of docs contributes one partial row per input
    partition, never a hot shuffle key join."""
    from ..functions.text import token_count_col, tokens_col

    toks = tokens_col(F.col(text_col))
    n = token_count_col(F.col(text_col))
    n_win = F.floor((n - F.lit(window)) / F.lit(stride)) + F.lit(1)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("_toks"),
        F.when(n >= window, n_win).otherwise(F.lit(0)).cast("int").alias("_nw"),
    )
    pos = F.explode(F.sequence(F.lit(0), F.col("_nw") - 1)).alias("pos")
    spans = base.where(F.col("_nw") > 0).select("doc_id", "_toks", pos)
    span_txt = F.array_join(
        F.slice(F.col("_toks"), F.col("pos") * stride + 1, window), " "
    )
    return spans.select(
        "doc_id",
        F.col("pos"),
        F.substring(F.md5(span_txt), 1, 16).alias("span_hash"),
    )


def duplicated_spans(
    docs: DataFrame,
    window: int = 30,
    stride: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Spans appearing in ≥ 2 DISTINCT docs:
    (span_hash, n_docs, n_occ, min_doc, max_doc) — the detection side of
    passage dedup; a removal pass joins doc spans back on span_hash."""
    sp = doc_spans(docs, window, stride, id_col, text_col)
    return (
        sp.groupBy("span_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )


def sql_duplicated_spans(
    corpus_cte: str, window: int = 30, stride: int = 15
) -> str:
    """DuckDB twin of :func:`duplicated_spans` over a CTE yielding
    ``corpus(doc_id, text)`` (1-based list_slice mirrors F.slice)."""
    from ..functions.text import sql_tokenized_cte

    return f"""WITH {corpus_cte},
{sql_tokenized_cte("corpus")},
w AS (
  SELECT doc_id, toks,
         UNNEST(generate_series(0, CAST(FLOOR((len - {window}) / {stride}) AS INT))) AS pos
  FROM tk WHERE len >= {window}
),
h AS (
  SELECT doc_id,
         substring(md5(array_to_string(list_slice(toks, pos * {stride} + 1, pos * {stride} + {window}), ' ')), 1, 16) AS span_hash
  FROM w
)
SELECT span_hash,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occ,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM h GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
"""


def contamination_pairs(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 13,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark DECONTAMINATION: (doc, benchmark item) pairs sharing ≥
    ``min_hits`` distinct ``n``-gram token windows — the standard
    pre-training hygiene pass (GPT-3 appendix-C / Pile / OLMo style
    13-gram overlap) that keeps eval items out of the training corpus.

    Returns (doc_id, bench_id, n_shared).  Both sides shingle through
    the SHARED tokenizer/window machinery (:func:`doc_spans`, stride 1 —
    the doc side must enumerate EVERY n-gram or an overlap straddling a
    stride boundary is missed), so a tokenizer tweak cannot diverge this
    contract from span dedup / BM25.

    Scale shape: the benchmark side is small by definition → distinct
    n-gram hashes BROADCAST; the doc side is a pure Catalyst explode
    (n_tokens rows per doc, the price every real decontamination
    pipeline pays) feeding a broadcast hash join + hash agg with
    map-side combine.  At 100 TB the broadcast join means the corpus is
    scanned once with no shuffle before the (tiny, post-join) aggregate;
    if the benchmark set ever outgrew broadcast size, the same plan
    degrades gracefully to a shuffle equi-join on span_hash.
    """
    d = doc_spans(docs, window=n, stride=1, id_col=id_col, text_col=text_col)
    b = (
        doc_spans(bench, window=n, stride=1, id_col=bench_id_col, text_col=bench_text_col)
        .select(F.col("doc_id").alias("__bench_id"), "span_hash")
        .distinct()
    )
    return (
        d.join(F.broadcast(b), on="span_hash", how="inner")
        .groupBy("doc_id", F.col("__bench_id").alias("bench_id"))
        .agg(F.countDistinct("span_hash").alias("n_shared"))
        .where(F.col("n_shared") >= F.lit(int(min_hits)))
    )


def sql_contamination(
    corpus_cte: str, bench_cte: str, n: int = 13, min_hits: int = 1
) -> str:
    """DuckDB twin of :func:`contamination_pairs` over CTEs yielding
    ``corpus(doc_id, text)`` and ``bench(bench_id, text)``."""
    from ..functions.text import sql_tokenized_cte

    bench_tk = sql_tokenized_cte("bench").replace("tk AS", "btk AS").replace(
        "SELECT doc_id,", "SELECT bench_id,"
    )
    return f"""WITH {corpus_cte},
{bench_cte},
{sql_tokenized_cte("corpus")},
{bench_tk},
dg AS (
  SELECT doc_id,
         substring(md5(array_to_string(list_slice(toks, pos + 1, pos + {n}), ' ')), 1, 16) AS span_hash
  FROM (SELECT doc_id, toks,
               UNNEST(generate_series(0, CAST(FLOOR((len - {n}) / 1) AS INT))) AS pos
        FROM tk WHERE len >= {n})
),
bg AS (
  SELECT DISTINCT bench_id,
         substring(md5(array_to_string(list_slice(toks, pos + 1, pos + {n}), ' ')), 1, 16) AS span_hash
  FROM (SELECT bench_id, toks,
               UNNEST(generate_series(0, CAST(FLOOR((len - {n}) / 1) AS INT))) AS pos
        FROM btk WHERE len >= {n})
)
SELECT dg.doc_id, bg.bench_id, COUNT(DISTINCT dg.span_hash) AS n_shared
FROM dg JOIN bg ON dg.span_hash = bg.span_hash
GROUP BY 1, 2 HAVING COUNT(DISTINCT dg.span_hash) >= {min_hits}
"""
