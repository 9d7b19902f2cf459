"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

North-star extensions (BASELINE.json). The fixture corpus has no true
duplicates, so each operator first INJECTS deterministic near/exact
duplicates (a mutated copy of every 25th doc, doc_id + 1_000_000) — the
pipeline then has real work to do and the oracle must find the identical
pairs.

Scale design (the part that matters at 100 TB):
- exact dedup: hash-groupBy on md5(text) — one shuffle on a uniform key,
  no skew (hash of content), survivors via min(doc_id).
- MinHash+LSH: per-doc signature is a pure map (no shuffle); banding
  converts O(n²) similarity into equi-join on (band_id, band_hash) —
  shuffle on band buckets, then candidate verification only within
  buckets. This is THE standard web-scale near-dedup (Broder; used by
  C4/RefinedWeb/FineWeb pipelines).
- SimHash: 32-bit signature per doc as a map; near-dup = small Hamming
  distance; banding over 2×16-bit chunks makes candidates equi-joinable;
  the hamming filter on the full signature stays exact.
- portable hashing: every hash is md5-based (hex-string compare), NOT
  engine hash() — both engines agree bit-for-bit, and md5 is uniform
  enough that bucket skew is bounded.

Performance note (measured, sf0.1): Spark's higher-order lambdas run
interpreted (outside WholeStageCodegen) with NO common-subexpression
elimination across references — inlining the tokenize+shingle expression
into each of 8 min-hash columns made the pipeline ~30× slower. Every
query below therefore STAGES expensive arrays (tokens → shingles →
per-token hashes) as projected columns; Catalyst's CollapseProject keeps
a multiply-referenced non-cheap alias materialized, so each stage is
computed once per row. Candidate pairs are deduplicated on (id1, id2)
BEFORE re-joining the shingle arrays, and Jaccard/cosine are computed
once in a staged column, not re-evaluated in the WHERE clause.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from duck_server_spark.engine.session import register_views
from duck_server_spark.operators import common

# ---------------------------------------------------------------------------
# Shared staged fragments (Spark dialect + DuckDB dialect twins)
# ---------------------------------------------------------------------------

# documents ∪ mutated copies: every 25th doc re-appears with its first
# word dropped (near-dup), every 50th verbatim (exact dup).
_CORPUS = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         CASE WHEN doc_id % 50 = 0 THEN text
              ELSE substring(text, instr(text, ' ') + 1) END AS text
  FROM documents WHERE doc_id % 25 = 0
"""
# Round 14 (VERDICT r13 item 4): the one-scan LATERAL VIEW twin-emission
# rewrite (each row emits its 0/1 perturbed twin from ONE scan) was
# re-measured on an 8-split documents fixture, the condition the r13
# negative result deferred to. Multiset equality verified; plan scans
# halve (56 -> 28 in minhash_lsh). Interleaved 6-rep A/B at sf0.1×8
# splits: the bare hash chain wins (med 0.38 -> 0.30) but every REAL
# consumer still loses — minhash_lsh med 2.16 -> 2.75 (+27%): the
# per-row Generate + CASE machinery sits under every corpus reference
# and costs more than the saved scan at this input size. Still NEGATIVE
# on multi-split input; the union also stays because _PAIRS_SQL shares
# this text with the DuckDB oracle. Revisit only with genuinely
# TB-scale inputs where scan I/O dominates per-row CPU.

# corpus → toks → sh (word-3-gram shingles), each stage a materialized
# projection so downstream lambdas reference a column, not a recomputation.
_STAGED_SHINGLES_S = f"""
corpus AS ({_CORPUS}),
tok AS (
  SELECT doc_id, split(trim(text), '\\\\s+') AS toks FROM corpus
),
shing AS (
  SELECT doc_id,
         transform(sequence(1, greatest(size(toks) - 2, 1)),
                   i -> concat_ws(' ', slice(toks, i, 3))) AS sh
  FROM tok
)"""

_STAGED_SHINGLES_D = rf"""
corpus AS ({_CORPUS}),
tok AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM corpus
),
shing AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
                        i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS sh
  FROM tok
)"""


def _sql_pair(spark_sql: str, duck_sql: str):
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(spark_sql)

    return build, duck_sql


# ---------------------------------------------------------------------------
# 1. Exact dedup
# ---------------------------------------------------------------------------

DEDUP_EXACT_SPARK = f"""
WITH corpus AS ({_CORPUS}),
hashed AS (SELECT doc_id, md5(text) AS h FROM corpus)
SELECT h, min(doc_id) AS keeper, count(*) AS n_copies,
       array_join(sort_array(collect_list(doc_id)), ',') AS members
FROM hashed GROUP BY h HAVING count(*) > 1
"""

DEDUP_EXACT_DUCK = f"""
WITH corpus AS ({_CORPUS}),
hashed AS (SELECT doc_id, md5(text) AS h FROM corpus)
SELECT h, min(doc_id) AS keeper, count(*) AS n_copies,
       array_to_string(list_sort(list(doc_id)), ',') AS members
FROM hashed GROUP BY h HAVING count(*) > 1
"""

# ---------------------------------------------------------------------------
# 2. MinHash + LSH banding
# ---------------------------------------------------------------------------
# 8 md5-based min-hashes over the staged shingle column, 2 bands × 4 rows.
# Bucket-join on (band, sig) over id-only rows, re-join arrays for the
# exact-Jaccard verification of the (few) candidates.
#
# Spark side runs with exact-duplicate collapse (see the vectorized
# variant's header for the full rationale): signatures, banding, and the
# quadratic verify run on ONE representative per md5(text) group; the
# pair set is then expanded combinatorially — intra-group pairs are
# jaccard=1.0 by construction (d/d with d>0 is exactly 1.0 in IEEE
# doubles, matching what the naive formula computes on identical
# arrays), and a verified rep pair (A,B) carries its jaccard to
# members(A)×members(B). Output is IDENTICAL to the naive pairing, so
# the DuckDB oracle below stays the direct formulation — the oracle
# defines the answer, not the algorithm. md5 (128-bit) as the group key
# keeps collision odds negligible at corpus scale (xxhash64's 64 bits
# hit the birthday bound near 4B docs).

_NUM_HASHES = 8


def _minhash_cols(minfn: str, tfm: str) -> str:
    return ",\n         ".join(
        f"{minfn}({tfm}(sh, s -> md5(concat('{j}|', s)))) AS mh{j}"
        for j in range(_NUM_HASHES)
    )


_BANDS = [("band0", ["mh0", "mh1", "mh2", "mh3"]), ("band1", ["mh4", "mh5", "mh6", "mh7"])]
_BAND_SEL = ", ".join(f"concat({', '.join(cols)}) AS {name}" for name, cols in _BANDS)


def _collapsed_pairwise_spark(
    candidate_ctes: str,
    threshold: float = 0.5,
    score_expr: str | None = None,
    score_name: str = "jaccard",
) -> str:
    """Exact-dup-collapsed pairwise-similarity pipeline. `candidate_ctes`
    is a WITH-chain fragment that, given `shing(doc_id, sh)` over
    representative docs, ends by defining `rep_pairs(id1, id2)` — the
    candidate pairs to verify (banded LSH, min-shingle blocking, ...).
    Verification, group expansion, and intra-group emission are shared;
    `score_expr` (over sh1/sh2) swaps the verified measure — default
    exact Jaccard, `dedup_ngram_containment` passes the overlap
    coefficient."""
    score_expr = score_expr or (
        "CAST(size(array_intersect(sh1, sh2)) AS DOUBLE) / size(array_union(sh1, sh2))"
    )
    return f"""
WITH corpus AS ({_CORPUS}),
grp AS (SELECT doc_id, md5(text) AS chash FROM corpus),
rep_text AS (
  SELECT r.chash, c.doc_id, c.text
  FROM (SELECT chash, min(doc_id) AS doc_id FROM grp GROUP BY chash) r
  JOIN corpus c ON c.doc_id = r.doc_id
),
tok AS (
  SELECT doc_id, split(trim(text), '\\\\s+') AS toks FROM rep_text
),
shing AS (
  SELECT doc_id,
         transform(sequence(1, greatest(size(toks) - 2, 1)),
                   i -> concat_ws(' ', slice(toks, i, 3))) AS sh
  FROM tok
),
{candidate_ctes},
joined AS (
  SELECT id1, id2, s1.sh AS sh1, s2.sh AS sh2
  FROM rep_pairs JOIN shing s1 ON s1.doc_id = id1 JOIN shing s2 ON s2.doc_id = id2
),
jac AS (
  SELECT id1, id2,
         {score_expr} AS {score_name}
  FROM joined
),
rep_verified AS (SELECT id1, id2, {score_name} FROM jac WHERE {score_name} >= {threshold}),
hash_pairs AS (
  SELECT r1.chash AS h1, r2.chash AS h2, v.{score_name}
  FROM rep_verified v
  JOIN rep_text r1 ON r1.doc_id = v.id1
  JOIN rep_text r2 ON r2.doc_id = v.id2
),
cross_pairs AS (
  SELECT least(a.doc_id, b.doc_id) AS id1, greatest(a.doc_id, b.doc_id) AS id2, hp.{score_name}
  FROM hash_pairs hp
  JOIN grp a ON a.chash = hp.h1
  JOIN grp b ON b.chash = hp.h2
),
intra_pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(1.0 AS DOUBLE) AS {score_name}
  FROM grp a JOIN grp b ON a.chash = b.chash AND a.doc_id < b.doc_id
)
SELECT id1, id2, {score_name} FROM cross_pairs
UNION ALL
SELECT id1, id2, {score_name} FROM intra_pairs
"""


# Bucket-size cap for the groupBy pair-generation paths (round 14,
# VERDICT r13 item 2 — skew-proofing). The r13 groupBy restructure put
# an ENTIRE bucket into one collect_list row and one task emitted its
# O(b²) pairs: at 100 TB a degenerate bucket (boilerplate docs sharing a
# band signature / block key) is an unbounded array + a single-task
# quadratic explosion. Fix: SALTED TRIANGLE REGROUP, one linear
# pipeline — a window over the bucket key counts the bucket, each doc
# is salted into ns = ceil(bsz/cap) chunks (deterministic
# pmod(xxhash64(doc_id), ns) — guide §2.5 forbids rand here) and
# replicated to its ns chunk-PAIR groups (least/greatest(salt, t)); a
# REPARTITION on (key, s_lo, s_hi) spreads those groups across tasks,
# and each group's collect_list is bounded at ~2·cap elements. Pair
# sets are identical: group (i,i) emits salt-i's internal (i<j by
# doc_id) pairs, group (i,j) emits exactly the cross-salt pairs, so
# every in-bucket pair appears exactly once. With bsz ≤ cap this
# DEGENERATES to the r13 shape (ns=1, one row per doc, one group per
# bucket) — no branches, so nothing references the expensive
# corpus→shingle chain twice (measured: a join-fallback branch costs
# ~3 s/query here because this engine does not reuse the chain exchange
# across self-join sides even when forced to SMJ; the salted regroup
# measures ≈ r13 + one slim exchange, interleaved A/B in
# OPTIMIZATION_r14.md). Replication cost at scale is ns rows/doc =
# O(bsz²/cap) slim rows per degenerate bucket — strictly below the
# O(bsz²) pair output any correct algorithm must emit. Env-tunable;
# every local fixture bucket stays at ns=1.
_PAIR_BUCKET_CAP = int(os.environ.get("SPARK_GRAFT_PAIR_BUCKET_CAP", "1024"))


def _salted_groups(key_cols: str, src: str, payload: str, cap: int) -> str:
    """Shared salted-triangle regroup fragment: `src`(doc_id, {key_cols})
    → `salted_groups`({key_cols}, s_lo, s_hi, ms sorted array of
    struct(doc_id, salt[, payload...]))."""
    return f"""sized AS (
  SELECT *, greatest(CAST(ceil(count(*) OVER (PARTITION BY {key_cols}) / CAST({cap} AS DOUBLE)) AS INT), 1) AS ns
  FROM {src}
),
salted AS (
  SELECT /*+ REPARTITION({key_cols}, s_lo, s_hi) */
         *, least(salt, t.t) AS s_lo, greatest(salt, t.t) AS s_hi
  FROM (SELECT *, CAST(pmod(xxhash64(doc_id), ns) AS INT) AS salt FROM sized)
  LATERAL VIEW explode(sequence(0, ns - 1)) t AS t
),
salted_groups AS (
  SELECT s_lo, s_hi, sort_array(collect_list(struct(doc_id, salt{payload}))) AS ms
  FROM salted GROUP BY {key_cols}, s_lo, s_hi
)"""


# each in-bucket (i < j by doc_id) pair exactly once: intra-salt pairs
# come from the (i,i) group, cross-salt pairs from the (i,j) group
_SALTED_PAIR_COND = "p1 < p2 AND (s_lo = s_hi OR i1.m.salt <> i2.m.salt)"


def _banded_candidates(
    sigs_cte: str, band_sel: str = _BAND_SEL, cap: int = _PAIR_BUCKET_CAP
) -> str:
    """Candidate fragment: minhash signatures → 2 banded buckets →
    DISTINCT in-bucket pairs. `sigs_cte` computes sigs(doc_id, mh0..mh7)
    from `shing`.

    Round 13 session 5 (guide §2.4): pairs come from ONE groupBy on the
    bucket key + per-group pair explode, not a bucket self-join — the
    join shape computed the whole shingle+signature chain once per side
    (the planner broadcast-converts the small side, so the sides share
    no exchange; see _blk_group_pairs for the measured variant). The
    DISTINCT stays: a pair can collide in both bands. Pair sets are
    identical (sorted collect_list + posexplode replays doc_id < doc_id
    ordering inside each bucket). Round 14: salted triangle regroup
    bounds bucket arrays and parallelizes hot-bucket emission (see
    _PAIR_BUCKET_CAP)."""
    return f"""{sigs_cte},
banded AS (
  SELECT doc_id, {band_sel} FROM sigs
),
long AS (
  SELECT doc_id, stack(2, 0, band0, 1, band1) AS (bnd, sig) FROM banded
),
{_salted_groups("bnd, sig", "long", "", cap)},
rep_pairs AS (
  SELECT DISTINCT i1.m.doc_id AS id1, i2.m.doc_id AS id2
  FROM salted_groups
  LATERAL VIEW posexplode(ms) i1 AS p1, m
  LATERAL VIEW posexplode(ms) i2 AS p2, m
  WHERE {_SALTED_PAIR_COND}
)"""


DEDUP_MINHASH_SPARK = _collapsed_pairwise_spark(_banded_candidates(f"""sigs AS (
  SELECT doc_id,
         {_minhash_cols("array_min", "transform")}
  FROM shing
)"""))


def _md5_minhash_sig_batch(texts):
    """The 8 md5-minhash hex-string signatures per text, replaying
    _minhash_cols exactly (round 14, VERDICT r13 item 5 — guide §4.2):
    shingles = 3-gram concat_ws(' ') windows over split(trim(text)),
    greatest(n-2, 1) windows (short docs produce the same single
    partial shingle the SQL slice emits); mh_j = array_min over
    md5('<j>|' || shingle) hex strings. Fixed-width lowercase-hex
    strings order exactly like their 128-bit digest values, so the
    lexicographic min is computed numerically on big-endian (hi64,
    lo64) pairs via one lexsort per permutation — md5 runs once per
    DISTINCT shingle (pd.factorize). Pinned bit-identical to the SQL
    spelling by tests/test_scale_paths.py::
    test_md5_minhash_kernel_matches_sql_reference."""
    import hashlib

    import numpy as np
    import pandas as pd

    n = len(texts)
    cols = [np.empty(n, dtype=object) for _ in range(_NUM_HASHES)]
    if n == 0:
        return cols
    shing_lists = []
    for t in texts:
        toks = t.strip().split()
        m = max(len(toks) - 2, 1)
        shing_lists.append([" ".join(toks[i : i + 3]) for i in range(m)])
    lens = np.fromiter((len(s) for s in shing_lists), dtype=np.int64, count=n)
    flat = [s for sh in shing_lists for s in sh]
    codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
    doc_idx = np.repeat(np.arange(n), lens)
    for j in range(_NUM_HASHES):
        prefix = f"{j}|".encode()
        hexes = np.empty(len(uniques), dtype=object)
        digs = bytearray()
        for k, u in enumerate(uniques):
            d = hashlib.md5(prefix + u.encode()).digest()
            digs += d
            hexes[k] = d.hex()
        words = np.frombuffer(bytes(digs), dtype=">u8").reshape(-1, 2)
        hi, lo = words[codes, 0], words[codes, 1]
        order = np.lexsort((lo, hi, doc_idx))
        doc_sorted = doc_idx[order]
        first = np.concatenate(([True], doc_sorted[1:] != doc_sorted[:-1]))
        # winners arrive in ascending doc order because lexsort's last
        # key is doc_idx
        cols[j][:] = hexes[codes[order[first]]]
    return cols


_MD5_LSH_SEQ = [0]


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The md5 reference twin with its signature stage vectorized
    (round 14, guide §4.2): the 8 interpreted md5-per-shingle transform
    lambdas (~2M lambda evals at sf0.1) move into one mapInPandas numpy
    kernel over rep_text (see _md5_minhash_sig_batch). Banding, salted
    pair generation and the exact-Jaccard verify stay the retained SQL
    (DEDUP_MINHASH_SPARK is the reference spelling the kernel is pinned
    against; the DuckDB oracle is unchanged)."""
    import pandas as pd

    register_views(spark, sf_dir)

    def kern(batches):
        for pdf in batches:
            out = {"doc_id": pdf["doc_id"]}
            mhs = _md5_minhash_sig_batch(list(pdf["text"]))
            for j in range(_NUM_HASHES):
                out[f"mh{j}"] = mhs[j]
            yield pd.DataFrame(out)

    _MD5_LSH_SEQ[0] += 1
    sview = f"md5_lsh_sigs_{_MD5_LSH_SEQ[0]}"
    rep = spark.sql(f"""
WITH corpus AS ({_CORPUS}),
grp AS (SELECT doc_id, md5(text) AS chash FROM corpus),
rep_text AS (
  SELECT r.chash, c.doc_id, c.text
  FROM (SELECT chash, min(doc_id) AS doc_id FROM grp GROUP BY chash) r
  JOIN corpus c ON c.doc_id = r.doc_id
)
SELECT doc_id, text FROM rep_text""")
    if _scan_is_narrow(spark, sf_dir):
        rep = rep.repartition(spark.sparkContext.defaultParallelism)
    sig_schema = "doc_id BIGINT, " + ", ".join(
        f"mh{j} STRING" for j in range(_NUM_HASHES)
    )
    rep.mapInPandas(kern, sig_schema).createOrReplaceTempView(sview)
    return spark.sql(
        _collapsed_pairwise_spark(
            _banded_candidates(f"sigs AS (SELECT * FROM {sview})")
        )
    )

DEDUP_MINHASH_DUCK = f"""
WITH {_STAGED_SHINGLES_D},
sigs AS (
  SELECT doc_id,
         {_minhash_cols("list_min", "list_transform")}
  FROM shing
),
banded AS (
  SELECT doc_id, {_BAND_SEL} FROM sigs
),
long AS (
  SELECT doc_id, 0 AS bnd, band0 AS sig FROM banded
  UNION ALL
  SELECT doc_id, 1 AS bnd, band1 AS sig FROM banded
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2
  FROM long a JOIN long b2
    ON a.bnd = b2.bnd AND a.sig = b2.sig AND a.doc_id < b2.doc_id
),
joined AS (
  SELECT id1, id2, s1.sh AS sh1, s2.sh AS sh2
  FROM pairs JOIN shing s1 ON s1.doc_id = id1 JOIN shing s2 ON s2.doc_id = id2
),
jac AS (
  SELECT id1, id2,
         CAST(len(list_intersect(list_distinct(sh1), list_distinct(sh2))) AS DOUBLE)
           / len(list_distinct(list_concat(sh1, sh2))) AS jaccard
  FROM joined
)
SELECT id1, id2, jaccard FROM jac WHERE jaccard >= 0.5
"""

# ---------------------------------------------------------------------------
# 3. SimHash (32-bit, md5-derived per-token hashes)
# ---------------------------------------------------------------------------
# bit_j(simhash) = 1 iff the majority of tokens have bit j set in their
# 32-bit md5-derived hash. Per-token hashes staged once per row; the 32
# per-bit counts are staged as columns so the signature sum references
# counts, not 32 re-filters of a recomputed array.

_SIMHASH_BITS = 32

_SIMHASH_SUM = " + ".join(
    f"(CASE WHEN 2 * n{j} > n THEN {2**j} ELSE 0 END)" for j in range(_SIMHASH_BITS)
)


def _bitcounts_spark() -> str:
    return ",\n         ".join(
        f"size(filter(th, h -> (h div {2**j}) % 2 = 1)) AS n{j}" for j in range(_SIMHASH_BITS)
    )


def _bitcounts_duck() -> str:
    return ",\n         ".join(
        f"len(list_filter(th, h -> (h // {2**j}) % 2 = 1)) AS n{j}" for j in range(_SIMHASH_BITS)
    )


# Spark side: exact-dup collapse (same shape as the minhash family) —
# per-token hashing, 32 bit-count columns, and chunk-join candidates run
# on one representative per md5(text) group; intra-group pairs have
# hamming 0 by construction (identical text → identical signature) and
# cross pairs carry the reps' hamming.
def _simhash_spark_sql(cap: int = _PAIR_BUCKET_CAP) -> str:
    return f"""
WITH corpus AS ({_CORPUS}),
grp AS (SELECT doc_id, md5(text) AS chash FROM corpus),
rep_text AS (
  SELECT r.chash, c.doc_id, c.text
  FROM (SELECT chash, min(doc_id) AS doc_id FROM grp GROUP BY chash) r
  JOIN corpus c ON c.doc_id = r.doc_id
),
tok AS (
  SELECT doc_id, split(trim(text), '\\\\s+') AS toks FROM rep_text
),
th AS (
  SELECT doc_id, transform(toks, t -> CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT)) AS th,
         size(toks) AS n
  FROM tok
),
bits AS (
  SELECT doc_id, n,
         {_bitcounts_spark()}
  FROM th
),
sigs AS (
  SELECT doc_id, {_SIMHASH_SUM} AS simhash FROM bits
),
chunks AS (
  SELECT doc_id, simhash, stack(2, 0, simhash % 65536, 1, simhash div 65536) AS (cid, cval)
  FROM sigs
),
-- round 13 session 5 (guide §2.4): in-bucket pairs via one groupBy +
-- per-group pair explode instead of a chunk self-join, so the md5
-- token-hash + 32-bitcount chain runs once, not once per join side
-- (same restructure as _blk_group_pairs; pair set and hamming values
-- identical — sorted structs replay a.doc_id < b.doc_id). Round 14:
-- salted triangle regroup bounds bucket arrays and parallelizes
-- hot-bucket emission (see _PAIR_BUCKET_CAP; simhash rides as payload).
{_salted_groups("cid, cval", "chunks", ", simhash", cap)},
rep_pairs AS (
  SELECT DISTINCT i1.m.doc_id AS id1, i2.m.doc_id AS id2,
         bit_count(i1.m.simhash ^ i2.m.simhash) AS hamming
  FROM salted_groups
  LATERAL VIEW posexplode(ms) i1 AS p1, m
  LATERAL VIEW posexplode(ms) i2 AS p2, m
  WHERE {_SALTED_PAIR_COND}
),
rep_verified AS (SELECT id1, id2, hamming FROM rep_pairs WHERE hamming <= 3),
hash_pairs AS (
  SELECT r1.chash AS h1, r2.chash AS h2, v.hamming
  FROM rep_verified v
  JOIN rep_text r1 ON r1.doc_id = v.id1
  JOIN rep_text r2 ON r2.doc_id = v.id2
),
cross_pairs AS (
  SELECT least(a.doc_id, b.doc_id) AS id1, greatest(a.doc_id, b.doc_id) AS id2, hp.hamming
  FROM hash_pairs hp
  JOIN grp a ON a.chash = hp.h1
  JOIN grp b ON b.chash = hp.h2
),
intra_pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(0 AS INT) AS hamming
  FROM grp a JOIN grp b ON a.chash = b.chash AND a.doc_id < b.doc_id
)
SELECT id1, id2, hamming FROM cross_pairs
UNION ALL
SELECT id1, id2, hamming FROM intra_pairs
"""


DEDUP_SIMHASH_SPARK = _simhash_spark_sql()


def _simhash_sig_batch(texts):
    """int64 simhash per text, replaying the SQL spelling exactly
    (round 14, VERDICT r13 item 5 — the md5 reference twin's per-token
    interpreted md5 + 32 bitcount filter lambdas were the last
    interpreted hot loop in this family; guide §4.2):
    toks = split(trim(text), '\\\\s+') == .strip().split() (tokenization
    parity fixture-verified, the _minhash_sig_batch discipline);
    th = CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) ==
    int(hexdigest[:8], 16) (the corpus_clean kernel identity);
    bit j set iff 2·|{th: bit j}| > n_toks — integer comparisons, so
    equality is exact, pinned by tests/test_scale_paths.py::
    test_simhash_kernel_matches_sql_reference. md5 runs once per
    DISTINCT token (pd.factorize), bit counts via per-bit bincount."""
    import hashlib

    import numpy as np
    import pandas as pd

    n = len(texts)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    tok_lists = [t.strip().split() for t in texts]
    lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=n)
    flat = [tok for toks in tok_lists for tok in toks]
    codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
    uh = np.fromiter(
        (int(hashlib.md5(u.encode()).hexdigest()[:8], 16) for u in uniques),
        dtype=np.int64,
        count=len(uniques),
    )
    th = uh[codes] if len(flat) else np.zeros(0, dtype=np.int64)
    doc_idx = np.repeat(np.arange(n), lens)
    sim = np.zeros(n, dtype=np.int64)
    for j in range(_SIMHASH_BITS):
        nj = np.bincount(doc_idx, weights=(th >> j) & 1, minlength=n)
        sim += ((2 * nj) > lens).astype(np.int64) << j
    return sim


_SIMHASH_SEQ = [0]


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the signature stage vectorized
    (round 14, guide §4.2): the tok→th→bits→sigs SQL chain — one
    interpreted md5 lambda per token plus 32 interpreted filter passes
    per document — moves into one mapInPandas numpy kernel over the
    rep_text rows (see _simhash_sig_batch; bit-identical, pinned). The
    chunk banding, salted pair generation, hamming verify and
    exact-dup expansion stay the retained SQL (_simhash_spark_sql is
    the reference spelling the kernel is pinned against; the DuckDB
    oracle is unchanged)."""
    import pandas as pd

    register_views(spark, sf_dir)

    def kern(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "simhash": _simhash_sig_batch(list(pdf["text"]))}
            )

    _SIMHASH_SEQ[0] += 1
    sview = f"simhash_sigs_{_SIMHASH_SEQ[0]}"
    rep = spark.sql(f"""
WITH corpus AS ({_CORPUS}),
grp AS (SELECT doc_id, md5(text) AS chash FROM corpus),
rep_text AS (
  SELECT r.chash, c.doc_id, c.text
  FROM (SELECT chash, min(doc_id) AS doc_id FROM grp GROUP BY chash) r
  JOIN corpus c ON c.doc_id = r.doc_id
)
SELECT doc_id, text FROM rep_text""")
    if _scan_is_narrow(spark, sf_dir):
        rep = rep.repartition(spark.sparkContext.defaultParallelism)
    rep.mapInPandas(kern, "doc_id BIGINT, simhash BIGINT").createOrReplaceTempView(sview)
    return spark.sql(f"""
WITH corpus AS ({_CORPUS}),
grp AS (SELECT doc_id, md5(text) AS chash FROM corpus),
rep_text AS (
  SELECT r.chash, c.doc_id, c.text
  FROM (SELECT chash, min(doc_id) AS doc_id FROM grp GROUP BY chash) r
  JOIN corpus c ON c.doc_id = r.doc_id
),
sigs AS (SELECT doc_id, simhash FROM {sview}),
chunks AS (
  SELECT doc_id, simhash, stack(2, 0, simhash % 65536, 1, simhash div 65536) AS (cid, cval)
  FROM sigs
),
{_salted_groups("cid, cval", "chunks", ", simhash", _PAIR_BUCKET_CAP)},
rep_pairs AS (
  SELECT DISTINCT i1.m.doc_id AS id1, i2.m.doc_id AS id2,
         bit_count(i1.m.simhash ^ i2.m.simhash) AS hamming
  FROM salted_groups
  LATERAL VIEW posexplode(ms) i1 AS p1, m
  LATERAL VIEW posexplode(ms) i2 AS p2, m
  WHERE {_SALTED_PAIR_COND}
),
rep_verified AS (SELECT id1, id2, hamming FROM rep_pairs WHERE hamming <= 3),
hash_pairs AS (
  SELECT r1.chash AS h1, r2.chash AS h2, v.hamming
  FROM rep_verified v
  JOIN rep_text r1 ON r1.doc_id = v.id1
  JOIN rep_text r2 ON r2.doc_id = v.id2
),
cross_pairs AS (
  SELECT least(a.doc_id, b.doc_id) AS id1, greatest(a.doc_id, b.doc_id) AS id2, hp.hamming
  FROM hash_pairs hp
  JOIN grp a ON a.chash = hp.h1
  JOIN grp b ON b.chash = hp.h2
),
intra_pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(0 AS INT) AS hamming
  FROM grp a JOIN grp b ON a.chash = b.chash AND a.doc_id < b.doc_id
)
SELECT id1, id2, hamming FROM cross_pairs
UNION ALL
SELECT id1, id2, hamming FROM intra_pairs""")

DEDUP_SIMHASH_DUCK = rf"""
WITH corpus AS ({_CORPUS}),
tok AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM corpus
),
th AS (
  SELECT doc_id, list_transform(toks, t -> ('0x' || substring(md5(t), 1, 8))::BIGINT) AS th,
         len(toks) AS n
  FROM tok
),
bits AS (
  SELECT doc_id, n,
         {_bitcounts_duck()}
  FROM th
),
sigs AS (
  SELECT doc_id, {_SIMHASH_SUM} AS simhash FROM bits
),
chunks AS (
  SELECT doc_id, simhash, 0 AS cid, simhash % 65536 AS cval FROM sigs
  UNION ALL
  SELECT doc_id, simhash, 1 AS cid, simhash // 65536 AS cval FROM sigs
),
pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, a.simhash AS sh1, b.simhash AS sh2
  FROM chunks a JOIN chunks b
    ON a.cid = b.cid AND a.cval = b.cval AND a.doc_id < b.doc_id
)
SELECT DISTINCT id1, id2, bit_count(xor(sh1, sh2)) AS hamming
FROM pairs
WHERE bit_count(xor(sh1, sh2)) <= 3
"""

# ---------------------------------------------------------------------------
# 4. N-gram Jaccard (blocked pairwise)
# ---------------------------------------------------------------------------
# Exact Jaccard over word-3-gram sets, blocked by the md5 of the
# lexicographically-first shingle — the verification stage of LSH run
# standalone with a cheaper blocking key. The block key keeps 8 hex chars
# (~4.3B buckets): block cardinality scales with the corpus, so per-block
# pairwise work stays O(cluster²), not O(n²/256) as with the round-1
# 2-char key (256 global buckets — VERDICT r1 scale blemish). Docs only
# pair when they share their minimum shingle, which near-duplicates at
# jaccard>=0.3 overwhelmingly do.

# Spark side: same exact-dup collapse as the minhash family, with the
# min-shingle block key generating candidates among representatives.
# Round 13 session 5 (guide §2.4): in-block pairs via ONE groupBy on the
# block key + per-group pair explode, not a self-join — the join shape
# computed the corpus→rep_text→shingle→md5 chain once PER SIDE (the
# planner broadcast-converts the small side, so the two sides never
# share an exchange to reuse; measured 3.4-4.3 s for rep_pairs alone at
# sf0.1), while the groupBy shape runs the chain once and shuffles only
# (doc_id, blk). Pair sets are identical: blk is functional per doc, so
# each in-block (i<j) pair appears exactly once either way; the sorted
# collect_list + posexplode pair order replays a.doc_id < b.doc_id.
# Interleaved 5-pair A/B: 5/5 wins, median 5.43 -> 2.36 s; output
# verified tuple-for-tuple equal and the oracle hash unchanged.
# Round 14: salted triangle regroup (see _PAIR_BUCKET_CAP) — the r13
# note's bounded-block ASSUMPTION is now an enforced bound. No DISTINCT
# needed: blk is functional per doc and each (i,j) pair comes from
# exactly one salt group.


def _blk_group_pairs(cap: int = _PAIR_BUCKET_CAP) -> str:
    return f"""blocked AS (
  SELECT doc_id, substring(md5(array_min(sh)), 1, 8) AS blk
  FROM shing
),
{_salted_groups("blk", "blocked", "", cap)},
rep_pairs AS (
  SELECT i1.m.doc_id AS id1, i2.m.doc_id AS id2
  FROM salted_groups
  LATERAL VIEW posexplode(ms) i1 AS p1, m
  LATERAL VIEW posexplode(ms) i2 AS p2, m
  WHERE {_SALTED_PAIR_COND}
)"""


_BLK_GROUP_PAIRS = _blk_group_pairs()

DEDUP_NGRAM_JACCARD_SPARK = _collapsed_pairwise_spark(
    _BLK_GROUP_PAIRS,
    threshold=0.3,
)

DEDUP_NGRAM_JACCARD_DUCK = f"""
WITH {_STAGED_SHINGLES_D},
blocked AS (
  SELECT doc_id, list_distinct(sh) AS dsh,
         substring(md5(list_min(sh)), 1, 8) AS blk
  FROM shing
),
pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, a.dsh AS sh1, b.dsh AS sh2
  FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.doc_id < b.doc_id
),
jac AS (
  SELECT id1, id2,
         CAST(len(list_intersect(sh1, sh2)) AS DOUBLE)
           / len(list_distinct(list_concat(sh1, sh2))) AS jaccard
  FROM pairs
)
SELECT id1, id2, jaccard FROM jac WHERE jaccard >= 0.3
"""

# ---------------------------------------------------------------------------
# 4b. N-gram containment (overlap coefficient) — subset/quote duplication
# ---------------------------------------------------------------------------
# The asymmetric companion to Jaccard (round 5): overlap coefficient
# |A∩B| / min(|A|, |B|) flags a SHORT doc wholly contained in a longer
# one (quotes, boilerplate wrappers, chunk-of-another-doc) that
# symmetric Jaccard scores low because the union is dominated by the
# longer side — both measures run in production dedup (Lee et al. 2022
# use exact substring containment; this is its shingle-set analogue).
# Same exact-dup collapse + min-shingle blocking as the Jaccard op: a
# doc contained at >= 0.6 shares its minimum shingle with its container
# in the overwhelming majority of cases (the standard blocking recall
# argument), and per-block pairwise work stays O(cluster²).

_CONTAIN_EXPR_S = (
    "CAST(size(array_intersect(sh1, sh2)) AS DOUBLE) "
    "/ least(size(array_distinct(sh1)), size(array_distinct(sh2)))"
)

DEDUP_NGRAM_CONTAIN_SPARK = _collapsed_pairwise_spark(
    _BLK_GROUP_PAIRS,  # same one-groupBy pair generation as the Jaccard op
    threshold=0.6,
    score_expr=_CONTAIN_EXPR_S,
    score_name="containment",
)

DEDUP_NGRAM_CONTAIN_DUCK = f"""
WITH {_STAGED_SHINGLES_D},
blocked AS (
  SELECT doc_id, list_distinct(sh) AS dsh,
         substring(md5(list_min(sh)), 1, 8) AS blk
  FROM shing
),
pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, a.dsh AS sh1, b.dsh AS sh2
  FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.doc_id < b.doc_id
),
cont AS (
  SELECT id1, id2,
         CAST(len(list_intersect(sh1, sh2)) AS DOUBLE)
           / least(len(sh1), len(sh2)) AS containment
  FROM pairs
)
SELECT id1, id2, containment FROM cont WHERE containment >= 0.6
"""

# ---------------------------------------------------------------------------
# 5. Embedding-cosine near-dup (label-blocked)
# ---------------------------------------------------------------------------
# Cosine in double via left-to-right fold (bit-identical both engines).
# Norms are staged per-vector BEFORE the pair join (computed n times, not
# n² times); only the dot product runs per pair. Blocking on label bounds
# pairs; at 100 TB the blocking key would be an LSH/IVF bucket (see
# similarity.py).

_EMB_CORPUS_S = """
  SELECT vec_id, label, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, label,
         concat(array(CAST(0.5 AS FLOAT)), slice(embedding, 2, size(embedding) - 1)) AS embedding
  FROM embeddings WHERE vec_id % 10 = 0
"""

_EMB_CORPUS_D = """
  SELECT vec_id, label, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, label,
         list_concat([CAST(0.5 AS FLOAT)], list_slice(embedding, 2, len(embedding))) AS embedding
  FROM embeddings WHERE vec_id % 10 = 0
"""

_DOT_S = "aggregate(zip_with(a.embedding, b.embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)"
_DOT_D = "list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(a.embedding)), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), (acc, v) -> acc + v)"

# Spark side collapses exact-duplicate vectors first (GROUP BY the
# array itself — exact, no hash-collision risk): the O(block²) scoring
# runs on one representative per (label, embedding) group, then expands.
# Intra-group cosine is NOT emitted as literal 1.0 — the naive formula
# on an identical pair computes sq/(sqrt(sq)*sqrt(sq)), which is a hair
# off 1.0 in IEEE doubles, so the collapse stages `sq` (the pre-sqrt
# norm fold, bit-equal to the zip_with dot of a vector with itself) and
# emits sq/(nrm*nrm) — matching the oracle's value bit-for-bit.
DEDUP_EMBEDDING_SPARK = f"""
WITH raw AS ({_EMB_CORPUS_S}),
reps AS (
  SELECT label, embedding, min(vec_id) AS rep_id
  FROM raw GROUP BY label, embedding
),
members AS (
  SELECT r.rep_id, raw.vec_id
  FROM raw JOIN reps r ON raw.label = r.label AND raw.embedding = r.embedding
),
emb AS (
  SELECT rep_id AS vec_id, label, embedding,
         aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0.0D, (acc, v) -> acc + v) AS sq,
         sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0.0D, (acc, v) -> acc + v)) AS nrm
  FROM reps
),
scored AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
         {_DOT_S} / (a.nrm * b.nrm) AS cosine
  FROM emb a JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
),
rep_pairs AS (SELECT id1, id2, cosine FROM scored WHERE cosine >= 0.85),
cross_pairs AS (
  SELECT least(ma.vec_id, mb.vec_id) AS id1, greatest(ma.vec_id, mb.vec_id) AS id2, p.cosine
  FROM rep_pairs p
  JOIN members ma ON ma.rep_id = p.id1
  JOIN members mb ON mb.rep_id = p.id2
),
self_cos AS (SELECT vec_id, sq / (nrm * nrm) AS cosine FROM emb),
intra_pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2, sc.cosine
  FROM members a
  JOIN members b ON a.rep_id = b.rep_id AND a.vec_id < b.vec_id
  JOIN self_cos sc ON sc.vec_id = a.rep_id
  WHERE sc.cosine >= 0.85
)
SELECT id1, id2, cosine FROM cross_pairs
UNION ALL
SELECT id1, id2, cosine FROM intra_pairs
"""

DEDUP_EMBEDDING_DUCK = f"""
WITH raw AS ({_EMB_CORPUS_D}),
emb AS (
  SELECT vec_id, label, embedding,
         sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, v) -> acc + v)) AS nrm
  FROM raw
),
scored AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
         {_DOT_D} / (a.nrm * b.nrm) AS cosine
  FROM emb a JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id1, id2, cosine FROM scored WHERE cosine >= 0.85
"""


# Round 13 session 5 (guide §4.2): the embedding near-dup pair scoring —
# one interpreted zip_with/aggregate dot fold per label-blocked rep pair
# (~720k pairs × 64 dims ≈ 46M lambda evals at sf0.1; measured 4.4 s,
# the slowest non-headline registry row) — moves into one applyInPandas
# numpy kernel per label block. The float64 arithmetic replays the SQL
# fold's exact op order (sequential dim-by-dim accumulation from 0.0D;
# float→double widening == the CASTs; cosine = dot / (nrm_a · nrm_b)
# with the same multiply-then-divide), so pairs and cosines are
# bit-identical — pinned by tests/test_scale_paths.py::
# test_embedding_pair_kernel_matches_sql_reference against the retained
# DEDUP_EMBEDDING_SPARK spelling, and the DuckDB oracle hash is
# unchanged. Row-chunked so a hot label block costs chunk×B memory, not
# B×B (the SQL join had the same O(B²) output; blocking assumes bounded
# labels either way). The members/intra expansion and self_cos stay SQL.

_EMB_PAIR_CHUNK = 1024
_EMB_SEQ = [0]


def _emb_label_pairs(pdf):
    """All (rep_i < rep_j) pairs within one label block with exact-fold
    cosine, filtered at >= 0.85 (the filter commutes with scoring).

    Zero-norm edge (round 14, ADVICE r13): this engine runs ANSI mode
    (Spark 4 default, relied on elsewhere for overflow guarantees), and
    under ANSI a double division by zero raises DIVIDE_BY_ZERO — probed
    directly against the retained SQL spelling's fold: an all-zero
    vector makes `dot / (nrm_a * nrm_b)` ERROR, not produce a NaN that
    passes `>= 0.85` (the non-ANSI/DuckDB behavior ADVICE r13 assumed).
    numpy's silent NaN-drop would therefore diverge from the reference
    by silently DROPPING pairs the SQL spelling refuses to score; the
    kernel instead raises the same loud error on zero norms, keeping the
    bit-identical-equivalence claim exact for degenerate input too
    (pinned by tests/test_scale_paths.py::
    test_embedding_kernel_zero_norm_matches_ansi_sql)."""
    import numpy as np
    import pandas as pd

    n = len(pdf)
    empty = pd.DataFrame({"id1": pd.Series([], dtype="int64"),
                          "id2": pd.Series([], dtype="int64"),
                          "cosine": pd.Series([], dtype="float64")})
    if n < 2:
        return empty
    pdf = pdf.sort_values("rep_id").reset_index(drop=True)
    ids = pdf["rep_id"].to_numpy()
    E = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    dim = E.shape[1]
    # per-rep norm: sequential dim order == the staged SQL nrm fold
    sq = np.zeros(n)
    for j in range(dim):
        sq += E[:, j] * E[:, j]
    nrm = np.sqrt(sq)
    if (nrm == 0.0).any():
        # match the SQL spelling's ANSI DIVIDE_BY_ZERO (see docstring)
        bad = ids[nrm == 0.0][:3]
        raise ArithmeticError(
            f"[DIVIDE_BY_ZERO] zero-norm embedding(s) {bad.tolist()} — the "
            "ANSI SQL reference errors on these; clean the corpus first"
        )
    out1, out2, outc = [], [], []
    for lo in range(0, n - 1, _EMB_PAIR_CHUNK):
        hi = min(lo + _EMB_PAIR_CHUNK, n - 1)
        # dot of rows lo..hi against all rows, accumulated dim-by-dim
        acc = np.zeros((hi - lo, n))
        for j in range(dim):
            acc += E[lo:hi, j : j + 1] * E[None, :, j]
        cos = acc / (nrm[lo:hi, None] * nrm[None, :])
        # upper triangle: partner index > row index (ids ascending)
        ri, ci = np.nonzero(cos >= 0.85)
        keep = ci > (ri + lo)
        ri, ci = ri[keep], ci[keep]
        out1.append(ids[ri + lo])
        out2.append(ids[ci])
        outc.append(cos[ri, ci])
    if not out1:
        return empty
    return pd.DataFrame(
        {
            "id1": np.concatenate(out1),
            "id2": np.concatenate(out2),
            "cosine": np.concatenate(outc),
        }
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    _EMB_SEQ[0] += 1
    pview = f"emb_rep_pairs_{_EMB_SEQ[0]}"
    reps = spark.sql(f"""
        SELECT label, embedding, min(vec_id) AS rep_id
        FROM ({_EMB_CORPUS_S}) GROUP BY label, embedding
    """)
    (
        reps.groupBy("label")
        .applyInPandas(_emb_label_pairs, "id1 BIGINT, id2 BIGINT, cosine DOUBLE")
        .createOrReplaceTempView(pview)
    )
    return spark.sql(f"""
WITH raw AS ({_EMB_CORPUS_S}),
reps AS (
  SELECT label, embedding, min(vec_id) AS rep_id
  FROM raw GROUP BY label, embedding
),
members AS (
  SELECT r.rep_id, raw.vec_id
  FROM raw JOIN reps r ON raw.label = r.label AND raw.embedding = r.embedding
),
emb AS (
  SELECT rep_id AS vec_id,
         aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0.0D, (acc, v) -> acc + v) AS sq,
         sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0.0D, (acc, v) -> acc + v)) AS nrm
  FROM reps
),
cross_pairs AS (
  SELECT least(ma.vec_id, mb.vec_id) AS id1, greatest(ma.vec_id, mb.vec_id) AS id2, p.cosine
  FROM {pview} p
  JOIN members ma ON ma.rep_id = p.id1
  JOIN members mb ON mb.rep_id = p.id2
),
self_cos AS (SELECT vec_id, sq / (nrm * nrm) AS cosine FROM emb),
intra_pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2, sc.cosine
  FROM members a
  JOIN members b ON a.rep_id = b.rep_id AND a.vec_id < b.vec_id
  JOIN self_cos sc ON sc.vec_id = a.rep_id
  WHERE sc.cosine >= 0.85
)
SELECT id1, id2, cosine FROM cross_pairs
UNION ALL
SELECT id1, id2, cosine FROM intra_pairs
""")


_exact_q, _exact_o = _sql_pair(DEDUP_EXACT_SPARK, DEDUP_EXACT_DUCK)
_jaccard_q, _jaccard_o = _sql_pair(DEDUP_NGRAM_JACCARD_SPARK, DEDUP_NGRAM_JACCARD_DUCK)
_contain_q, _contain_o = _sql_pair(DEDUP_NGRAM_CONTAIN_SPARK, DEDUP_NGRAM_CONTAIN_DUCK)
_emb_q, _emb_o = _sql_pair(DEDUP_EMBEDDING_SPARK, DEDUP_EMBEDDING_DUCK)

QUERIES = {
    "dedup_exact": _exact_q,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": _jaccard_q,
    "dedup_ngram_containment": _contain_q,
    "dedup_embedding_cosine": dedup_embedding_cosine,
}

ORACLE = {
    "dedup_exact": _exact_o,
    # the Spark spellings (DEDUP_*_SPARK) are the reference the kernels
    # are pinned against in tests, not registry builders
    "dedup_minhash_lsh": DEDUP_MINHASH_DUCK,
    "dedup_simhash": DEDUP_SIMHASH_DUCK,
    "dedup_ngram_jaccard": _jaccard_o,
    "dedup_ngram_containment": _contain_o,
    "dedup_embedding_cosine": _emb_o,
}


# ---------------------------------------------------------------------------
# 2b. MinHash + LSH, production hash path
# ---------------------------------------------------------------------------
# Same pipeline as dedup_minhash_lsh but hashed with Spark's built-in
# xxhash64 (JVM codegen, ~10× cheaper than md5-in-interpreted-lambda).
# xxhash64 is engine-specific, so this variant has no DuckDB oracle —
# the md5 twin above is the cross-engine-verified version; this is the
# one you run at 100 TB.

# universal-hash permutations over ONE base hash: h_j(x) = (a_j*x + b_j) mod p.
# The shingle string is hashed once (xxhash64); the 8 min-hashes are cheap
# integer transforms of that array — 1 string hash + 8 arithmetic passes
# instead of 8 string hashes. p = 2^31-1 (Mersenne); (x%p) < 2^31 and
# a_j < 2^31 keep the product under 2^62: no bigint overflow under ANSI.
_MINHASH_P = 2**31 - 1
_MINHASH_AB = [(2 * j + 1, 7919 * (j + 1)) for j in range(_NUM_HASHES)]


def _minhash_fast_cols() -> str:
    return ",\n         ".join(
        f"array_min(transform(hs, x -> (pmod(x, {_MINHASH_P}) * {a} + {b}) % {_MINHASH_P})) AS mh{j}"
        for j, (a, b) in enumerate(_MINHASH_AB)
    )


# Same exact-dup collapse as the md5 variant — only the signature
# arithmetic differs (xxhash64 + integer universal-hash permutations).
DEDUP_MINHASH_FAST_SPARK = _collapsed_pairwise_spark(
    _banded_candidates(
        f"""hashed AS (
  SELECT doc_id, sh, transform(sh, s -> xxhash64(s)) AS hs FROM shing
),
sigs AS (
  SELECT doc_id,
         {_minhash_fast_cols()}
  FROM hashed
)""",
        band_sel="concat(mh0, '|', mh1, '|', mh2, '|', mh3) AS band0, "
        "concat(mh4, '|', mh5, '|', mh6, '|', mh7) AS band1",
    )
)

_minhash_fast_q, _ = _sql_pair(DEDUP_MINHASH_FAST_SPARK, "")


def _minhash_fast_gate(spark, sf_dir):
    """BOUNDED-ERROR ORACLE GATE for the xxhash64 production path
    (round 8, VERDICT r7 punch item 3): the fast variant's banding hash
    is engine-specific, so the gate can't hash its pair set directly.
    Instead this row outputs the md5-twin's pair count (n_ref — fully
    DuckDB-expressible, the cross-engine-verified reference set) plus
    `recall_ok` = (|fast ∩ ref| ≥ 0.8·n_ref). The oracle emits the same
    count with TRUE, so the hash matches iff the production hash path
    recovers the reference pairs (measured on the fixture: 43/45 =
    0.956, deterministic — both hash families are seedless). Precision
    needs no flag: both variants verify candidates with the same exact
    Jaccard ≥ 0.5 predicate before emitting. The raw pair set stays
    registered as `dedup_minhash_lsh_fast_est` (rows-only)."""
    from pyspark.sql import functions as F

    ref = QUERIES["dedup_minhash_lsh"](spark, sf_dir).select("id1", "id2")
    fast = _minhash_fast_q(spark, sf_dir).select("id1", "id2")
    # ONE pass over each pipeline (round 13, guide §2.4): the old shape
    # aggregated n_ref and the hit join as two separate consumers of
    # `ref`, re-running the whole md5 reference pipeline per consumer
    # (measured 7.1 s at sf0.1, ≈ 2×ref + fast). Pairs are DISTINCT in
    # both sets, so a LEFT join preserves exactly the ref rows and
    # count(hit) counts the intersection — identical (n_ref, recall_ok).
    hit = ref.join(fast.withColumn("hit", F.lit(1)), ["id1", "id2"], "left")
    return hit.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ref"),
        F.count("hit").alias("n_hit"),
    ).select("n_ref", (F.col("n_hit") >= 0.8 * F.col("n_ref")).alias("recall_ok"))


QUERIES["dedup_minhash_lsh_fast"] = _minhash_fast_gate
ORACLE["dedup_minhash_lsh_fast"] = f"""
SELECT CAST(count(*) AS BIGINT) AS n_ref, TRUE AS recall_ok
FROM ({DEDUP_MINHASH_DUCK}) ref_pairs
"""
# The raw xxhash64 pair set (the plan a 100 TB user runs): rows-only —
# its recall contract is hashed by the gate row above.
QUERIES["dedup_minhash_lsh_fast_est"] = _minhash_fast_q


# ---------------------------------------------------------------------------
# 6. Near-dup clustering: connected components over the candidate-pair graph
# ---------------------------------------------------------------------------
# After pair generation, production dedup keeps ONE doc per connected
# component. Components are computed with iterative min-label propagation
# (the standard Spark pattern for iterative graph algorithms without
# GraphFrames: a driver loop of joins, each iteration one shuffle, until
# fixpoint — converges in O(graph diameter) rounds; our dup clusters are
# tiny stars so 2-3 rounds). The oracle is a recursive-CTE reachability
# closure — same answer, different (single-node) algorithm.

_PAIRS_SQL = f"""
WITH corpus AS ({_CORPUS}),
hashed AS (SELECT doc_id, md5(text) AS h FROM corpus)
SELECT a.doc_id AS id1, b.doc_id AS id2
FROM hashed a JOIN hashed b ON a.h = b.h AND a.doc_id < b.doc_id
"""

# Spark-side edge list: STAR topology per duplicate group (every member
# connects to the group minimum) instead of the all-pairs clique. Same
# connected components — a star spans exactly the clique's node set —
# but m-1 edges per m-member group instead of m(m-1)/2; the 10x
# replicated fixture's 10-member mega-groups made the clique edge list
# the CC bottleneck. The oracle keeps the clique formulation (output is
# identical; the oracle defines the answer, not the edge encoding).
_STAR_EDGES_SQL = f"""
WITH corpus AS ({_CORPUS}),
hashed AS (SELECT doc_id, md5(text) AS h FROM corpus),
grouped AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY h) AS min_doc FROM hashed
)
SELECT min_doc AS id1, doc_id AS id2 FROM grouped WHERE doc_id <> min_doc
"""


def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label propagation with scale-safe iteration state:

    - ``edges`` and each ``labels`` generation are persisted (each round
      reads them twice: propagation join + convergence count);
    - every 3rd generation is ``localCheckpoint``ed to truncate lineage —
      without it round N's plan contains all N-1 prior join chains and
      re-executes them (the classic iterative-Spark failure at scale);
    - the previous generation is unpersisted once the new one is
      materialized; iterations are capped with a loud failure;
    - the convergence check rides the SAME pass as the propagation join
      (a ``_changed`` flag column), not a second self-join.
    """
    from pyspark.sql import functions as F

    register_views(spark, sf_dir)
    pairs = spark.sql(_STAR_EDGES_SQL)
    edges = (
        pairs.selectExpr("id1 AS src", "id2 AS dst")
        .unionAll(pairs.selectExpr("id2 AS src", "id1 AS dst"))
        .persist()
    )
    labels = edges.select("src").distinct().withColumn("label", F.col("src")).persist()
    max_rounds = 50  # label propagation converges in O(graph diameter)
    for rnd in range(max_rounds):
        # one propagation round: label(v) <- min(label(v), min label of neighbors)
        lab_by_dst = labels.selectExpr("src AS d", "label AS dlabel")
        neighbor_min = (
            edges.join(lab_by_dst, edges.dst == lab_by_dst.d)
            .groupBy(F.col("src").alias("n"))
            .agg(F.min("dlabel").alias("nlabel"))
        )
        new_gen = labels.join(neighbor_min, labels.src == neighbor_min.n, "left").select(
            F.col("src"),
            F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias("label"),
            (F.col("nlabel").isNotNull() & (F.col("nlabel") < F.col("label"))).alias("_changed"),
        )
        if rnd % 3 == 2:
            new_gen = new_gen.localCheckpoint(eager=True)  # truncate lineage
        else:
            new_gen = new_gen.persist()
        changed = new_gen.filter(F.col("_changed")).count()  # materializes new_gen
        labels.unpersist()
        labels = new_gen.drop("_changed")
        if changed == 0:
            break
    else:
        raise RuntimeError(f"connected components did not converge in {max_rounds} rounds")
    # detach the result from the loop lineage so callers see a flat plan
    final = labels.localCheckpoint(eager=True)
    labels.unpersist()
    edges.unpersist()
    return (
        final.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            # string, not ARRAY: driver-canonicalizer-safe (see dedup_exact)
            F.array_join(F.sort_array(F.collect_list("src")), ",").alias("members"),
        )
        .select(F.col("label").alias("component_id"), "cluster_size", "members")
    )


DEDUP_CC_ORACLE = f"""
WITH RECURSIVE pairs AS ({_PAIRS_SQL}),
edges AS (
  SELECT id1 AS src, id2 AS dst FROM pairs
  UNION ALL
  SELECT id2 AS src, id1 AS dst FROM pairs
),
reach(src, dst) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT component_id, count(*) AS cluster_size,
       array_to_string(list_sort(list(src)), ',') AS members
FROM (SELECT src, min(dst) AS component_id FROM reach GROUP BY src) t
GROUP BY component_id
"""

QUERIES["dedup_connected_components"] = dedup_connected_components
ORACLE["dedup_connected_components"] = DEDUP_CC_ORACLE


# ---------------------------------------------------------------------------
# 2c. MinHash + LSH, Arrow-vectorized signature stage
# ---------------------------------------------------------------------------
# The signature computation (tokenize -> shingle -> k min-hashes) is the
# hot loop; interpreted SQL lambdas pay per-element dispatch. This variant
# computes signatures in one mapInPandas pass (zlib.crc32 per shingle —
# C-speed, deterministic everywhere — then 8 numpy universal-hash
# permutations + mins per doc). Banding/candidate-join/exact-Jaccard
# verification stay in Spark SQL. Rows-only check (crc32 path has no
# DuckDB twin); recall-guarded by sharing the verify stage with the md5
# oracle version.
#
# Scale path — exact-duplicate collapse BEFORE the expensive stages.
# Web-scale corpora contain mega-clusters of byte-identical boilerplate;
# without collapse, a cluster of m copies costs m signature computations
# and O(m^2) full shingle-array verifications (measured: the 10x
# replicated fixture made this query 22x slower, everything else ~2x).
# Instead: group by xxhash64(text), run minhash/banding/verification on
# one representative per group, then expand combinatorially — intra-group
# pairs are provably jaccard=1.0 (identical text), and a verified rep
# pair (A,B) expands to members(A) x members(B) with the same jaccard
# (jaccard depends only on content). Output is identical to the naive
# pairing; the quadratic verify work drops from O(sum m_i^2) candidate
# pairs to O(distinct-rep candidate pairs).

def _scan_is_narrow(spark: SparkSession, sf_dir: str, table: str = "documents") -> bool:
    """True when the fixture file scans as fewer splits than cores (the
    local small-file case that would serialize a mapInPandas kernel).
    Decided by an os-stat against cores × the session's 4 MB local split
    size — NOT df.rdd.getNumPartitions(): the RDD conversion re-plans
    the whole query on the driver and measured 0.7-1.2 s of pure
    analysis PER CALL at sf0.1 (guide §5 — driver work is part of the
    query's wall). Same rule as llm_text._contam_docs. On a real
    cluster the input is far past the threshold and the widening
    repartition never fires."""
    par = spark.sparkContext.defaultParallelism
    try:
        return os.path.getsize(os.path.join(sf_dir, f"{table}.parquet")) < par * 4 << 20
    except OSError:
        return False


_mhv_cached: list = []

# (a, b) permutation pairs and window-combination constants for the
# vectorized signature stage (shared by the operator and its equivalence
# test). Products stay < 2^63: crc32 < 2^32, Ci < 2^31, mod P after each
# product; a <= 15 so hp*a < 2^35.
_MHV_P = 2**31 - 1
_MHV_AB = [(2 * j + 1, 7919 * (j + 1)) for j in range(_NUM_HASHES)]
_MHV_C = (911382323, 972663749, 386910137)


def _minhash_sig_batch(texts) -> list:
    """8 minhash signatures for a BATCH of texts as one numpy pipeline
    (guide §4.2 — vectorize across the whole Arrow batch, not per row).

    Returns [mh0_array, ..., mh7_array] (int64, one element per text).
    Arithmetic is the identical int64 op sequence as the r12 per-doc
    loop -> bit-equal signatures; the per-doc loop was this operator's
    entire cost (3.5 s of a 3.2 s sf0.1 total; this path: ~0.06 s).
    Tokens crc32 once per DISTINCT token (pd.factorize maps repeats at
    C speed); docs < 3 tokens are zero-padded; per-doc minima collapse
    via np.minimum.reduceat."""
    import numpy as np
    import pandas as pd
    import zlib

    C1, C2, C3 = _MHV_C
    P = _MHV_P
    n = len(texts)
    if n == 0:
        return [np.zeros(0, dtype=np.int64) for _ in range(_NUM_HASHES)]
    tok_lists = [t.strip().split() for t in texts]
    lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=n)
    flat = [tok for toks in tok_lists for tok in toks]
    codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
    uh = np.fromiter(
        (zlib.crc32(u.encode()) for u in uniques), dtype=np.int64, count=len(uniques)
    )
    th = uh[codes] if len(flat) else np.zeros(0, dtype=np.int64)
    # padded flat layout: each doc owns max(L, 3) slots, zeros pad short
    # docs (same windows as the per-doc np.pad it replaces)
    plens = np.maximum(lens, 3)
    pstarts = np.concatenate(([0], np.cumsum(plens)[:-1]))
    tpad = np.zeros(int(plens.sum()), dtype=np.int64)
    tstarts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    pos = pstarts.repeat(lens) + (np.arange(len(flat)) - tstarts.repeat(lens))
    tpad[pos] = th
    hp_all = ((tpad[:-2] * C1) % P + (tpad[1:-1] * C2) % P + (tpad[2:] * C3) % P) % P
    # valid 3-gram windows never cross a doc boundary: doc i owns
    # plens[i]-2 windows starting at pstarts[i]
    wlens = plens - 2
    wstarts = np.concatenate(([0], np.cumsum(wlens)[:-1]))
    widx = pstarts.repeat(wlens) + (np.arange(int(wlens.sum())) - wstarts.repeat(wlens))
    hp = hp_all[widx]
    return [np.minimum.reduceat((hp * a + b) % P, wstarts) for a, b in _MHV_AB]


def dedup_minhash_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    register_views(spark, sf_dir)
    corpus = spark.sql(_CORPUS)

    corpus.createOrReplaceTempView("mhv_corpus")
    # Deterministically release the previous call's checkpointed storage
    # (GC-driven cleanup would let generations pile up across bench runs).
    common.release_checkpoints(spark, _mhv_cached)
    # TWO checkpoints, both slim — neither stores document text.
    # (Round-3 additionally checkpointed a fat (doc_id, text, chash)
    # `base` table; serializing the whole corpus text into the block
    # manager cost ~1 s at sf0.1 and would be a full-corpus storage copy
    # at 100 TB. Text-bearing references instead go straight to the
    # column-pruned parquet scan — each is consumed exactly once, so
    # nothing Python-side ever recomputes.)
    #
    # groups: doc_id -> content-hash, referenced 4x downstream (pair
    # expansion a/b, intra-group emission a/b). Eager localCheckpoint
    # rather than persist(): it TRUNCATES the lineage, so every
    # reference physically scans the slim stored partitions — persist()
    # relies on cache-plan matching, which was observed to silently miss
    # for multi-referenced view lineages and re-hash the corpus per
    # reference. (On a cluster, checkpoint to reliable storage for fault
    # tolerance.)
    # round 13 (guide §2.6): groups and rep_pairs are INDEPENDENT jobs
    # (rep_pairs reads only mhv_corpus -> sigs -> rep_sigs), so both
    # checkpoints are submitted concurrently at the end of this builder
    # via tracked_local_checkpoint_many — the lazy frame is built here.
    groups_lazy = spark.sql("SELECT doc_id, xxhash64(text) AS chash FROM mhv_corpus")

    # Signature stage: one numpy pipeline per Arrow batch (guide §4.2;
    # see _minhash_sig_batch — bit-equal to the r12 per-doc loop, which
    # was this operator's entire measured cost).
    def sigs(batches):
        for pdf in batches:
            out = {"doc_id": pdf["doc_id"], "chash": pdf["chash"]}
            mhs = _minhash_sig_batch(list(pdf["text"]))
            for j in range(_NUM_HASHES):
                out[f"mh{j}"] = mhs[j]
            yield pd.DataFrame(out)

    sig_schema = "doc_id BIGINT, chash BIGINT, " + ", ".join(
        f"mh{j} BIGINT" for j in range(_NUM_HASHES)
    )
    # Round-13 session 5 (guide §2.3/§8: decide with slim rows, move the
    # payload zero extra times): the kernel runs straight off the corpus
    # scan, so document text reaches the Python boundary on the scan's
    # own partitioning and never crosses an exchange. A slim groupBy on
    # chash (9 bigints ≈ 72 B/row) then collapses each duplicate group
    # to its representative: signatures are a pure function of the text,
    # so every member of a chash group carries the same mh vector and
    # min() selects it unchanged (min(doc_id) is the same rep the old
    # min_by(text, doc_id) shape picked). The previous shape aggregated
    # min_by(text) FIRST and then repartitioned the rep text for kernel
    # parallelism — full text through TWO exchanges; this one shuffles
    # none (the vectorized kernel is cheap enough that hashing dup
    # members too costs less than shipping their text — interleaved A/B
    # below in OPTIMIZATION_r13.md).
    corpus_sig_in = spark.sql(
        "SELECT doc_id, xxhash64(text) AS chash, text FROM mhv_corpus"
    )
    # Scale-adaptive parallelism for the Python stage (same rule as
    # dedup_substring_spans): widen the local 1-2 split fixture scan to
    # all cores; a multi-TB corpus already arrives in thousands of
    # splits and skips the shuffle.
    if _scan_is_narrow(spark, sf_dir):
        corpus_sig_in = corpus_sig_in.repartition(
            spark.sparkContext.defaultParallelism
        )
    corpus_sig_in.mapInPandas(sigs, sig_schema).createOrReplaceTempView(
        "minhash_vec_sigs"
    )
    # Banding + candidate self-join materialized eagerly (tiny: one row
    # per colliding rep pair). Two reasons: (a) the verify stage below
    # references the candidate set three times (s1 ids, s2 ids, the pair
    # join itself) — without materialization each reference would rerun
    # the Python/Arrow signature stage; (b) shingle arrays are then
    # computed ONLY for docs that appear in some candidate pair, not for
    # every rep — at 100 TB the verify stage reads just the candidates'
    # text.
    rep_pairs = spark.sql("""
WITH rep_sigs AS (
  SELECT chash, min(doc_id) AS doc_id,
         min(mh0) AS mh0, min(mh1) AS mh1, min(mh2) AS mh2, min(mh3) AS mh3,
         min(mh4) AS mh4, min(mh5) AS mh5, min(mh6) AS mh6, min(mh7) AS mh7
  FROM minhash_vec_sigs GROUP BY chash
),
banded AS (
  SELECT doc_id, chash, concat(mh0, '|', mh1, '|', mh2, '|', mh3) AS band0,
                        concat(mh4, '|', mh5, '|', mh6, '|', mh7) AS band1
  FROM rep_sigs
),
long AS (
  SELECT doc_id, chash, stack(2, 0, band0, 1, band1) AS (bnd, sig) FROM banded
)
SELECT DISTINCT a.doc_id AS id1, a.chash AS h1, b2.doc_id AS id2, b2.chash AS h2
FROM long a JOIN long b2
  ON a.bnd = b2.bnd AND a.sig = b2.sig AND a.doc_id < b2.doc_id
""")
    groups, rep_pairs = common.tracked_local_checkpoint_many(
        spark, [groups_lazy, rep_pairs], _mhv_cached
    )
    groups.createOrReplaceTempView("mhv_groups")
    rep_pairs.createOrReplaceTempView("mhv_rep_pairs")
    # Round 14 (VERDICT r13 item 6): the final verify joins `shing`
    # once per pair side, and the broadcast-converted small side defeats
    # exchange reuse — the candidate tokenize+shingle chain ran TWICE
    # (the ngram mechanism). A third slim checkpoint (doc_id + sh,
    # candidates only — bounded by the banding collision count, never
    # the corpus) computes it once. Interleaved 8-pair A/B: 7/8 wins,
    # med 1.533 -> 1.414 s, min 1.386 -> 1.116; output tuple-identical.
    shing = common.tracked_local_checkpoint(
        spark,
        spark.sql("""
WITH cand_ids AS (
  SELECT id1 AS doc_id FROM mhv_rep_pairs UNION SELECT id2 FROM mhv_rep_pairs
),
rep_tok AS (
  SELECT b.doc_id, split(trim(b.text), '\\\\s+') AS toks
  FROM mhv_corpus b JOIN cand_ids USING (doc_id)
)
SELECT doc_id,
       transform(sequence(1, greatest(size(toks) - 2, 1)),
                 i -> concat_ws(' ', slice(toks, i, 3))) AS sh
FROM rep_tok"""),
        _mhv_cached,
    )
    shing.createOrReplaceTempView("mhv_shing")
    return spark.sql("""
WITH joined AS (
  SELECT id1, id2, h1, h2, s1.sh AS sh1, s2.sh AS sh2
  FROM mhv_rep_pairs JOIN mhv_shing s1 ON s1.doc_id = id1 JOIN mhv_shing s2 ON s2.doc_id = id2
),
jac AS (
  SELECT id1, id2, h1, h2,
         CAST(size(array_intersect(sh1, sh2)) AS DOUBLE) / size(array_union(sh1, sh2)) AS jaccard
  FROM joined
),
-- verified rep pair carries its group-hash pair (no rep-id -> chash
-- mapping joins: chash rode through the signature stage)
rep_verified AS (SELECT h1, h2, jaccard FROM jac WHERE jaccard >= 0.5),
-- expand: members(A) x members(B), same jaccard as the reps
cross_pairs AS (
  SELECT least(a.doc_id, b.doc_id) AS id1, greatest(a.doc_id, b.doc_id) AS id2, hp.jaccard
  FROM rep_verified hp
  JOIN mhv_groups a ON a.chash = hp.h1
  JOIN mhv_groups b ON b.chash = hp.h2
),
-- identical text: jaccard is 1.0 by construction, no verification needed
intra_pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(1.0 AS DOUBLE) AS jaccard
  FROM mhv_groups a JOIN mhv_groups b
    ON a.chash = b.chash AND a.doc_id < b.doc_id
)
SELECT id1, id2, jaccard FROM cross_pairs
UNION ALL
SELECT id1, id2, jaccard FROM intra_pairs
""")


QUERIES["dedup_minhash_vectorized"] = dedup_minhash_vectorized
# rows-only: crc32/numpy path has no cross-engine twin


# ---------------------------------------------------------------------------
# Triangle enumeration over the near-dup graph
# ---------------------------------------------------------------------------

_tri_cached: list = []


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the simhash near-duplicate graph — the graph-shaped
    consumer of a dedup pass (triangle density distinguishes boilerplate
    mega-clusters from chains of incidental overlap). Edges arrive
    ordered (id1 < id2 from the pair generator), so each triangle
    (a<b<c) is enumerated exactly once by the canonical two-join plan:
    wedges a-b, b-c joined on the middle vertex, closed by the a-c edge.

    Scale shape: two equi-joins on vertex keys over the EDGE set (tiny
    vs the corpus — it is dedup output). The edge set is materialized
    ONCE via localCheckpoint before the three-way self-join: without it
    each join branch re-executes the entire simhash pipeline (the 10×
    sweep measured the 3× recompute). Enumeration cost after that is
    Θ(#wedges) ≈ Θ(#triangles) — inherent to exact listing, and output
    grows cubically with clique size, so the sweep lists this op as
    expected-superlinear. Production graphs additionally order vertices
    by degree before the wedge join so high-degree hubs don't fan out;
    the fixture graph is exact-dup cliques where ordering is uniform."""
    common.release_checkpoints(spark, _tri_cached)
    edges = common.tracked_local_checkpoint(
        spark, QUERIES["dedup_simhash"](spark, sf_dir).select("id1", "id2"), _tri_cached
    )
    e1 = edges.selectExpr("id1 AS a", "id2 AS b")
    e2 = edges.selectExpr("id1 AS b", "id2 AS c")
    e3 = edges.selectExpr("id1 AS a", "id2 AS c")
    return e1.join(e2, "b").join(e3, ["a", "c"]).select("a", "b", "c")


GRAPH_TRIANGLES_ORACLE = f"""
WITH e AS ({{SIMHASH}})
SELECT e1.id1 AS a, e1.id2 AS b, e2.id2 AS c
FROM e e1 JOIN e e2 ON e1.id2 = e2.id1
          JOIN e e3 ON e1.id1 = e3.id1 AND e2.id2 = e3.id2
"""

QUERIES["graph_triangles"] = graph_triangles
# the oracle embeds the simhash pair SQL as its edge CTE so both engines
# enumerate triangles over the identical edge set
ORACLE["graph_triangles"] = GRAPH_TRIANGLES_ORACLE.format(SIMHASH=ORACLE["dedup_simhash"])


# ---------------------------------------------------------------------------
# Cross-source duplication matrix — pipeline observability
# ---------------------------------------------------------------------------

_dsm_cached: list = []


def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources share (near-)duplicate content: the simhash pair
    set joined back to each side's source, aggregated to a
    source-pair count + mean hamming. The report that decides which
    crawl/feed overlaps which before a training mix is finalized.

    Scale shape: the pair set is dedup output (tiny vs corpus) and is
    localCheckpointed once (same rationale as graph_triangles — two
    downstream joins must not re-run the simhash pipeline twice); the
    source lookup is a (doc_id, source) projection joined twice, then
    one hash-agg onto at most |sources|² keys. Source pairs are
    canonicalized (least/greatest) so the matrix is upper-triangular.
    Injected duplicate ids (base + 1,000,000, see _CORPUS) are mapped
    back to their base doc's source before the lookup — an inner join
    on the raw id would silently drop exactly the planted duplicates."""
    common.release_checkpoints(spark, _dsm_cached)
    pairs = common.tracked_local_checkpoint(
        spark,
        QUERIES["dedup_simhash"](spark, sf_dir).select("id1", "id2", "hamming"),
        _dsm_cached,
    )

    register_views(spark, sf_dir)
    pairs.createOrReplaceTempView("dsm_pairs")
    return spark.sql("""
WITH src AS (SELECT doc_id, source FROM documents),
tagged AS (
  SELECT least(a.source, b.source) AS source1,
         greatest(a.source, b.source) AS source2,
         p.hamming
  FROM dsm_pairs p
  JOIN src a ON a.doc_id = p.id1 % 1000000
  JOIN src b ON b.doc_id = p.id2 % 1000000
)
SELECT source1, source2, count(*) AS n_pairs,
       CAST(sum(hamming) AS BIGINT) AS total_hamming
FROM tagged
GROUP BY source1, source2
""")


DEDUP_SOURCE_MATRIX_DUCK = f"""
WITH sim_pairs AS ({DEDUP_SIMHASH_DUCK}),
src AS (SELECT doc_id, source FROM documents),
tagged AS (
  SELECT least(a.source, b.source) AS source1,
         greatest(a.source, b.source) AS source2,
         p.hamming
  FROM sim_pairs p
  JOIN src a ON a.doc_id = p.id1 % 1000000
  JOIN src b ON b.doc_id = p.id2 % 1000000
)
SELECT source1, source2, count(*) AS n_pairs,
       CAST(sum(hamming) AS BIGINT) AS total_hamming
FROM tagged
GROUP BY source1, source2
"""

QUERIES["dedup_source_matrix"] = dedup_source_matrix
ORACLE["dedup_source_matrix"] = DEDUP_SOURCE_MATRIX_DUCK


# ---------------------------------------------------------------------------
# Bloom-prefilter incremental dedup (new batch vs historical corpus)
# ---------------------------------------------------------------------------
# The production shape for "which of today's crawled docs are new?" at
# 100 TB: a full incoming⋈historical anti-join shuffles BOTH sides every
# batch, but a Bloom filter over the historical content hashes turns it
# into (a) a broadcast-bitmap scan of the incoming batch — zero shuffle
# for the ~99% of rows the filter decides outright — and (b) an exact
# anti-join ONLY for the bloom-positive sliver (true dups + fpp). No
# false negatives by construction, so composed semantics stay EXACT and
# the oracle is the plain NOT IN. Same role as Spark's own runtime bloom
# filters (InjectRuntimeFilter), built here explicitly so the filter can
# be persisted and reused across daily batches.
#
# Build is distributed: per-doc bit positions (JVM expressions: xxhash64
# + Kirsch-Mitzelstein double hashing), grouped by 8192-bit chunk, each
# chunk packed to bytes by an Arrow-grouped applyInPandas — the driver
# receives exactly m/8 bytes of bitmap regardless of corpus size (m/10
# bits per historical key ~ 1.25 GB for 10^9 keys, the standard
# runtime-filter budget; _BLOOM_M_BITS below is fixture-sized).

_BLOOM_M_BITS = 1 << 20
_BLOOM_K = 7
_BLOOM_CHUNK_BITS = 8192

# the incoming batch: the perturbed half of _CORPUS (1-in-50 keeps its
# text verbatim -> a true duplicate of the historical corpus; the rest
# drop their first token -> novel)
_BLOOM_INCOMING = """
  SELECT doc_id + 1000000 AS doc_id,
         CASE WHEN doc_id % 50 = 0 THEN text
              ELSE substring(text, instr(text, ' ') + 1) END AS text
  FROM documents WHERE doc_id % 25 = 0
"""

_BLOOM_POS_EXPR = (
    f"transform(sequence(0, {_BLOOM_K - 1}), "
    f"i -> pmod(pmod(chash, 2305843009213693951) "
    f"+ i * (1 + pmod(chash, 1000000007)), {_BLOOM_M_BITS}))"
)


import itertools as _itertools

# atomic under the GIL (a bare `x[0] += 1` is not — ADVICE r4): two
# concurrent invocations can never draw the same sequence number
_BLOOM_SEQ = _itertools.count(1)
# (incoming, flags) view names of the most recent invocation — test hook
_BLOOM_LAST_VIEWS: list[tuple[str, str]] = [("", "")]
# prior invocations' bitmap broadcasts, released when the NEXT invocation
# starts (the returned DataFrame has been consumed by then; an immediate
# unpersist would yank the bitmap from under the lazy plan — ADVICE r4)
_BLOOM_OLD_BC: list = []
# checkpointed flags frames, released like the broadcasts (round 13)
_bloom_cached: list = []


def dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    register_views(spark, sf_dir)
    # unique per-invocation view names: the session is shared, so fixed
    # names would race under concurrent queries
    seq = next(_BLOOM_SEQ)
    v_in = f"bloom_incoming_{seq}"
    v_fl = f"bloom_flags_{seq}"
    _BLOOM_LAST_VIEWS[0] = (v_in, v_fl)
    # keep the 2 most recent bitmaps alive: a CONCURRENT invocation's
    # not-yet-consumed plan may still reference the previous broadcast
    while len(_BLOOM_OLD_BC) > 2:
        try:
            _BLOOM_OLD_BC.pop(0).unpersist(False)
        except Exception:  # noqa: BLE001 — release is best-effort
            pass

    def pack_chunk(key, pdf):
        bits = np.zeros(_BLOOM_CHUNK_BITS >> 3, dtype=np.uint8)
        off = pdf["off"].to_numpy()
        np.bitwise_or.at(bits, off >> 3, (1 << (off & 7)).astype(np.uint8))
        return pd.DataFrame({"chunk": [key[0]], "bits": [bits.tobytes()]})

    # Round 13 (guide §2.4): the r12 build ran THREE exchanges plus a
    # 128-group Python stage — distinct chash, distinct (chunk, off),
    # groupBy chunk, applyInPandas — measured ~0.9 s of the 1.5 s query
    # to produce a 128 KB bitmap. Setting a bit is idempotent, so the
    # distinct-chash pass adds nothing; the single DISTINCT on the bit
    # position partial-aggregates map-side AND bounds the row count at m
    # (one row per set bit) regardless of corpus size. Below the
    # parameterized bitmap-size threshold the driver collects those <= m
    # distinct positions and packs them with one vectorized bitwise_or
    # (one exchange, no Python workers); above it — production-sized
    # filters, ~1.25 GB per 10^9 keys — the distributed chunk pack
    # ships m/8 bytes to the driver exactly as before.
    driver_build_bits = int(
        os.environ.get("SPARK_GRAFT_BLOOM_DRIVER_BITS", str(1 << 26))
    )
    distinct_pos = f"""SELECT DISTINCT p
            FROM (SELECT explode({_BLOOM_POS_EXPR}) AS p
                  FROM (SELECT xxhash64(text) AS chash FROM documents))"""
    bitmap = np.zeros(_BLOOM_M_BITS >> 3, dtype=np.uint8)
    if _BLOOM_M_BITS <= driver_build_bits:
        pos = np.array(
            [r.p for r in spark.sql(distinct_pos).collect()], dtype=np.int64
        )
        if len(pos):
            np.bitwise_or.at(bitmap, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    else:
        chunks = (
            spark.sql(
                f"""SELECT p div {_BLOOM_CHUNK_BITS} AS chunk,
                           CAST(p % {_BLOOM_CHUNK_BITS} AS INT) AS off
                FROM ({distinct_pos})"""
            )
            .groupBy("chunk")
            .applyInPandas(pack_chunk, "chunk BIGINT, bits BINARY")
            .collect()
        )
        step = _BLOOM_CHUNK_BITS >> 3
        for row in chunks:
            bitmap[row.chunk * step : (row.chunk + 1) * step] = np.frombuffer(
                row.bits, dtype=np.uint8
            )
    bc = spark.sparkContext.broadcast(bitmap)
    _BLOOM_OLD_BC.append(bc)

    def check(batches):
        bm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            arr = np.vstack(pdf["pos"].to_numpy()).astype(np.int64)
            hit = ((bm[arr >> 3] >> (arr & 7).astype(np.uint8)) & 1).astype(bool)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "might": hit.all(axis=1)})

    spark.sql(f"SELECT doc_id, text FROM ({_BLOOM_INCOMING})").createOrReplaceTempView(v_in)
    # Round 13 (guide §5): the flags view is referenced TWICE by the
    # final query (definite-negative branch + positives join) — as a
    # lazy view the whole scan→hash→mapInPandas check stage ran twice.
    # Eager localCheckpoint of the slim (doc_id, might) frame runs it
    # once; both references read the stored rows.
    common.release_checkpoints(spark, _bloom_cached)
    flags = common.tracked_local_checkpoint(
        spark,
        spark.sql(f"SELECT doc_id, xxhash64(text) AS chash FROM {v_in}")
        .selectExpr("doc_id", f"{_BLOOM_POS_EXPR} AS pos")
        .mapInPandas(check, "doc_id BIGINT, might BOOLEAN"),
        _bloom_cached,
    )
    flags.createOrReplaceTempView(v_fl)
    # novel = definite-negatives (no join at all) + positives that the
    # exact text anti-join clears (false positives + near-dup texts)
    return spark.sql(
        f"""
WITH positives AS (
  SELECT i.doc_id, i.text
  FROM {v_in} i JOIN {v_fl} f ON i.doc_id = f.doc_id AND f.might
)
SELECT doc_id FROM {v_fl} WHERE NOT might
UNION ALL
SELECT p.doc_id FROM positives p LEFT ANTI JOIN documents d ON d.text = p.text
"""
    )


DEDUP_BLOOM_DUCK = f"""
WITH incoming AS ({_BLOOM_INCOMING})
SELECT doc_id FROM incoming
WHERE text NOT IN (SELECT text FROM documents)
"""

QUERIES["dedup_bloom_incremental"] = dedup_bloom_incremental
ORACLE["dedup_bloom_incremental"] = DEDUP_BLOOM_DUCK


# ---------------------------------------------------------------------------
# Exact duplicated-substring inventory (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better" — the EXACT-substring
# counterpart to the sampled winnowing fingerprints in llm_text.py)
# ---------------------------------------------------------------------------
# Every k-token window of every document, grouped by the span TEXT
# itself (no hash, no collisions — exact by definition), keeping spans
# that appear in >= 2 distinct documents. The span inventory is
# Θ(total tokens) rows (linear — stride-1 windows, k tokens each, NOT
# doc×doc), one shuffle on the span key with map-side combine, top-k
# via TakeOrderedAndProject. The paper's suffix-array build is the
# constant-factor upgrade at 100 TB (k-token payloads shrink to integer
# ranks); the relational shape — inventory, group, threshold — is the
# same.

_SUBSTR_K = 8
_SUBSTR_TOPK = 50

_SUBSTR_BODY = f"""
spanned AS (
  SELECT doc_id, span FROM spans WHERE size_ok
),
dup AS (
  SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
  FROM spanned
  GROUP BY span
  HAVING count(DISTINCT doc_id) >= 2
)
SELECT span, n_docs, n_occ
FROM dup
ORDER BY n_docs DESC, n_occ DESC, span ASC
LIMIT {_SUBSTR_TOPK}
"""

# Spark side (round 13, guide §2.3): count(DISTINCT doc_id) over the
# span inventory planned as an Expand ×2 of the heavy span strings; a
# two-level aggregate — (span, doc_id) partial first, then per-span
# counts where n_docs = rows and n_occ = sum(occ) — shuffles each
# distinct (span, doc) pair once and never expands. Identical integer
# counts, same HAVING/ordering -> oracle hash unchanged (measured
# 1.46 -> 1.14 s at sf0.1; the DuckDB oracle keeps the direct form).
DEDUP_SUBSTRING_SPARK = f"""
WITH corpus AS ({_CORPUS}),
tok AS (SELECT doc_id, split(trim(text), '\\\\s+') AS toks FROM corpus),
spans AS (
  SELECT doc_id,
         explode(transform(sequence(1, greatest(size(toks) - {_SUBSTR_K - 1}, 1)),
                           i -> concat_ws(' ', slice(toks, i, {_SUBSTR_K})))) AS span,
         size(toks) >= {_SUBSTR_K} AS size_ok
  FROM tok
),
perdoc AS (
  SELECT span, doc_id, count(*) AS occ
  FROM spans WHERE size_ok GROUP BY span, doc_id
),
dup AS (
  SELECT span, count(*) AS n_docs, CAST(sum(occ) AS BIGINT) AS n_occ
  FROM perdoc GROUP BY span HAVING count(*) >= 2
)
SELECT span, n_docs, n_occ
FROM dup
ORDER BY n_docs DESC, n_occ DESC, span ASC
LIMIT {_SUBSTR_TOPK}
"""

DEDUP_SUBSTRING_DUCK = rf"""
WITH corpus AS ({_CORPUS}),
tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM corpus),
spans AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - {_SUBSTR_K - 1}, 1) + 1),
                               i -> array_to_string(toks[i:i+{_SUBSTR_K - 1}], ' '))) AS span,
         len(toks) >= {_SUBSTR_K} AS size_ok
  FROM tok
),
{_SUBSTR_BODY}
"""


# Round 13 session 3 (guide §4.2): the span inventory — an interpreted
# transform+concat_ws lambda per window, explode, then the level-1
# (span, doc_id) hash aggregate — moves to one mapInPandas kernel that
# emits the per-document span Counter directly: one output row per
# DISTINCT (span, doc_id) with its occ count, so the explode AND the
# first aggregation level disappear; only the per-span shuffle remains.
# Tokenization parity with split(trim(text), '\\s+') is the same
# fixture-verified discipline as _minhash_sig_batch (.strip().split());
# the full-output equality vs DEDUP_SUBSTRING_SPARK is pinned by
# tests/test_scale_paths.py::test_substring_kernel_matches_sql_reference
# and the DuckDB oracle hash is unchanged (verified sf0.01 + sf0.1).
# Interleaved 6-round A/B at sf0.1: median 1.08 vs 1.48 s (−27%).


def _span_counts_batches(batches):
    """Per-document k-token window Counter over an Arrow batch stream:
    yields one row per distinct (span, doc_id) with its occurrence
    count — exactly the level-1 aggregate of DEDUP_SUBSTRING_SPARK.
    Docs shorter than k tokens emit nothing (they fail size_ok there)."""
    from collections import Counter

    import pandas as pd

    k = _SUBSTR_K
    for pdf in batches:
        out_s: list = []
        out_d: list = []
        out_o: list = []
        for d, t in zip(pdf["doc_id"], pdf["text"]):
            toks = t.strip().split()
            if len(toks) < k:
                continue
            c = Counter(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1))
            out_s.extend(c.keys())
            out_d.extend([d] * len(c))
            out_o.extend(c.values())
        yield pd.DataFrame({"span": out_s, "doc_id": out_d, "occ": out_o})


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    corpus = spark.sql(_CORPUS).select("doc_id", "text")
    # Scale-adaptive parallelism for the Python stage: the local fixture
    # scans as 1-2 splits, which would serialize the kernel; a real
    # multi-TB corpus arrives in thousands of splits, where an extra
    # full-text shuffle would be pure cost. Repartition ONLY when the
    # scan is narrower than the core count (measured locally: 1.15 ->
    # 0.99 s; at-scale path adds nothing).
    if _scan_is_narrow(spark, sf_dir):
        corpus = corpus.repartition(spark.sparkContext.defaultParallelism)
    corpus.mapInPandas(
        _span_counts_batches, "span STRING, doc_id BIGINT, occ BIGINT"
    ).createOrReplaceTempView("substr_perdoc")
    return spark.sql(f"""
SELECT span, count(*) AS n_docs, CAST(sum(occ) AS BIGINT) AS n_occ
FROM substr_perdoc GROUP BY span HAVING count(*) >= 2
ORDER BY n_docs DESC, n_occ DESC, span ASC
LIMIT {_SUBSTR_TOPK}
""")


QUERIES["dedup_substring_spans"] = dedup_substring_spans
ORACLE["dedup_substring_spans"] = DEDUP_SUBSTRING_DUCK


# ---------------------------------------------------------------------------
# Canonical-document selection per duplicate cluster
# ---------------------------------------------------------------------------
# After dedup finds clusters, something must pick WHICH copy survives —
# the canonical-selection pass every training-data pipeline runs (keep
# the longest / highest-quality member, drop the rest). Clusters here
# are the exact-dup groups (md5(text) over the injected corpus); the
# keeper is the longest text with doc_id as the deterministic
# tie-break. One hash-agg shuffle to form clusters; ranking is a window
# over cluster keys — high-cardinality partition keys, no global sort.

_CANON_BODY = """
clustered AS (
  SELECT doc_id, h, length(text) AS n_len,
         count(*) OVER (PARTITION BY h) AS n_members,
         row_number() OVER (PARTITION BY h ORDER BY length(text) DESC, doc_id ASC) AS rk
  FROM hashed
)
SELECT h, doc_id AS canonical_id, n_members, CAST(n_len AS BIGINT) AS canonical_len
FROM clustered
WHERE rk = 1 AND n_members > 1
"""

DEDUP_CANONICAL_SPARK = f"""
WITH corpus AS ({_CORPUS}),
hashed AS (SELECT doc_id, text, md5(text) AS h FROM corpus),
{_CANON_BODY}
"""

DEDUP_CANONICAL_DUCK = f"""
WITH corpus AS ({_CORPUS}),
hashed AS (SELECT doc_id, text, md5(text) AS h FROM corpus),
{_CANON_BODY}
"""


def dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(DEDUP_CANONICAL_SPARK)


QUERIES["dedup_canonical_docs"] = dedup_canonical_docs
ORACLE["dedup_canonical_docs"] = DEDUP_CANONICAL_DUCK


# ---------------------------------------------------------------------------
# Segment-level corpus dedup (C4-style line dedup, reassembled)
# ---------------------------------------------------------------------------
# C4 removes any LINE that occurred earlier anywhere in the corpus and
# keeps the remainder of the document. The fixture's documents have no
# line boundaries, so segmentation is deterministic fixed 10-token
# windows — the relational shape (segment → first-owner key → keep-if-
# mine → ordered reassembly) is exactly the line-dedup pipeline's.
# Ownership is the exact-integer min of doc_id*10000 + seg_idx per
# segment text: an AGGREGATION with map-side combine (not a window over
# the full segment inventory), then one equi-join back. Reassembly is a
# per-doc sorted collect — high-cardinality group keys, no global sort.
# Runs over the injected near-dup corpus so mutated copies genuinely
# lose their shared segments.

_SEGD_W = 10

SEGMENT_DEDUP_SPARK = f"""
WITH corpus AS ({_CORPUS}),
tok AS (SELECT doc_id, split(trim(text), '\\\\s+') AS toks FROM corpus),
idx AS (
  SELECT doc_id, toks,
         explode(sequence(0, CAST(ceil(size(toks) / {_SEGD_W}.0) AS INT) - 1)) AS seg_idx
  FROM tok
),
seg AS (
  SELECT doc_id, seg_idx,
         concat_ws(' ', slice(toks, seg_idx * {_SEGD_W} + 1, {_SEGD_W})) AS segment,
         doc_id * 10000 + seg_idx AS owner_key
  FROM idx
),
first_owner AS (
  SELECT segment, min(owner_key) AS keeper FROM seg GROUP BY segment
),
kept AS (
  SELECT s.doc_id, s.seg_idx, s.segment
  FROM seg s JOIN first_owner f ON s.segment = f.segment AND s.owner_key = f.keeper
),
rebuilt AS (
  SELECT doc_id,
         count(*) AS n_kept,
         array_join(transform(sort_array(collect_list(struct(seg_idx, segment))),
                              x -> x.segment), ' ') AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(ceil(size(t.toks) / {_SEGD_W}.0) AS BIGINT) AS n_segs,
       coalesce(r.n_kept, 0) AS n_kept,
       coalesce(r.clean_text, '') AS clean_text
FROM tok t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
"""

SEGMENT_DEDUP_DUCK = rf"""
WITH corpus AS ({{corpus}}),
tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM corpus),
idx AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(len(toks) / {_SEGD_W}.0) AS INT))) AS seg_idx
  FROM tok
),
seg AS (
  SELECT doc_id, seg_idx,
         array_to_string(toks[seg_idx * {_SEGD_W} + 1 : seg_idx * {_SEGD_W} + {_SEGD_W}], ' ') AS segment,
         doc_id * 10000 + seg_idx AS owner_key
  FROM idx
),
first_owner AS (
  SELECT segment, min(owner_key) AS keeper FROM seg GROUP BY segment
),
kept AS (
  SELECT s.doc_id, s.seg_idx, s.segment
  FROM seg s JOIN first_owner f ON s.segment = f.segment AND s.owner_key = f.keeper
),
rebuilt AS (
  SELECT doc_id,
         count(*) AS n_kept,
         string_agg(segment, ' ' ORDER BY seg_idx) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(ceil(len(t.toks) / {_SEGD_W}.0) AS BIGINT) AS n_segs,
       coalesce(r.n_kept, 0) AS n_kept,
       coalesce(r.clean_text, '') AS clean_text
FROM tok t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
"""


def dedup_line_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(SEGMENT_DEDUP_SPARK)


QUERIES["dedup_line_level"] = dedup_line_level
ORACLE["dedup_line_level"] = SEGMENT_DEDUP_DUCK.format(corpus=_CORPUS)


# ---------------------------------------------------------------------------
# Bounded PageRank over the near-dup graph (exact fixed-point)
# ---------------------------------------------------------------------------
# The second graph-shaped consumer of dedup output: score near-dup
# cluster members by link centrality (boilerplate hubs rank high, chain
# peripheries low). Classic PageRank is float-iterative — useless for a
# cross-engine value gate — so scores are BIGINT micro-units with the
# damped contribution floor(85 * s / (100 * deg)) computed in exact
# integer-safe arithmetic: every intermediate < 2^53, floor of a
# correctly-rounded double division is engine-identical, and 3 unrolled
# iterations make the whole thing one CTE chain (no recursion, no
# driver loop). Scale shape: per iteration ONE equi-join of the edge
# list with the score table on the source vertex + a hash-agg onto
# destination vertices — the standard distributed PageRank step; the
# edge set is dedup output (tiny vs corpus) and the Spark side
# checkpoints it once (same recompute rationale as graph_triangles).

_PR_ITER_BODY = """
{next} AS (
  SELECT s.dst AS node,
         CAST(150000 + sum(CAST(floor(85.0 * p.score / (100 * dp.d)) AS BIGINT)) AS BIGINT) AS score
  FROM sym s
  JOIN {prev} p ON p.node = s.src
  JOIN deg dp ON dp.node = s.src
  GROUP BY s.dst
)"""


def _pagerank_chain(edge_sql: str) -> str:
    its = ",".join(
        _PR_ITER_BODY.format(next=f"s{k + 1}", prev=f"s{k}") for k in range(3)
    )
    return f"""
WITH e0 AS ({edge_sql}),
sym AS (
  SELECT id1 AS src, id2 AS dst FROM e0
  UNION ALL
  SELECT id2 AS src, id1 AS dst FROM e0
),
deg AS (SELECT src AS node, count(*) AS d FROM sym GROUP BY src),
s0 AS (SELECT node, CAST(1000000 AS BIGINT) AS score FROM deg),
{its}
SELECT d.node, d.d AS degree, s3.score
FROM s3 JOIN deg d ON d.node = s3.node
"""


_PR_SEQ = [0]
_pr_cached: list = []


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    common.release_checkpoints(spark, _pr_cached)
    edges = common.tracked_local_checkpoint(
        spark, QUERIES["dedup_simhash"](spark, sf_dir).select("id1", "id2"), _pr_cached
    )
    _PR_SEQ[0] += 1
    v = f"pagerank_edges_{_PR_SEQ[0]}"
    edges.createOrReplaceTempView(v)
    return spark.sql(_pagerank_chain(f"SELECT id1, id2 FROM {v}"))


QUERIES["graph_pagerank"] = graph_pagerank
ORACLE["graph_pagerank"] = _pagerank_chain(ORACLE["dedup_simhash"])
