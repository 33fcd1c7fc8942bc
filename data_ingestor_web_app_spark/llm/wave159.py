"""Exact MinHash-LSH near-duplicate detection on two Arrow kernels.

The hash family is one that DuckDB can replay bit for bit, so the pair set
is checked exactly against the oracle below.

Signature kernel (``minhash_signatures``, run through ``with_minhash``).
Each distinct token of an Arrow batch is hashed once: x = the top 60 bits
of md5(token). The 64 Carter-Wegman values (a_s * x + b_s) mod (2^61 - 1)
of every distinct token are computed in numpy int64 with the Mersenne split
of ``cw_hashes``, where every intermediate stays below 2^63. A document's
signature is the elementwise minimum over its tokens, one segmented
``np.minimum.reduceat`` per hash.

Pair kernel (``lsh_pairs``). Band rows arrive hash-partitioned on
(band, band signature) and sorted, so every LSH bucket is a run of
consecutive rows. For each bucket of k >= 2 representatives the kernel
maps their tokens onto a vocabulary local to the bucket and multiplies the
k x V incidence matrix by its transpose, which gives every pair's exact
intersection size. The product runs in row tiles of at most ``_TILE_CELLS``
cells, so no bucket builds a k x k matrix. A
pair is kept in the bucket of its first agreeing band only, and only if it
passes the integer Jaccard test 19 * ix >= 9 * (la + lb), the exact form of
ix / (la + lb - ix) >= 0.9. The kernel emits both member lists, so doc
pairs come from two ``explode``s without joining back to the documents.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Carter-Wegman universal family over the Mersenne prime 2^61-1:
# h_s(x) = (a_s * x + b_s) mod P, with x = the top 60 bits of md5(token).
# md5 exists in BOTH engines (DuckDB has no xxhash64), 60-bit x keeps the
# 128-bit product under DuckDB's HUGEINT range, and modular integer
# arithmetic is exact — so numpy and DuckDB compute bit-identical
# signatures with no float anywhere.
_P = (1 << 61) - 1
_N_HASHES = 64
_N_BANDS = 8
_rng = np.random.default_rng(20260814)
_A = [int(v) for v in _rng.integers(1, _P, _N_HASHES)]
_B = [int(v) for v in _rng.integers(0, _P, _N_HASHES)]

_SEED_VALUES = ",\n        ".join(
    f"({s}, {a}, {b})" for s, (a, b) in enumerate(zip(_A, _B))
)

_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, LIST_DISTINCT(STRING_SPLIT(text, ' ')) AS toks
        FROM documents
    ),
    k AS (
        SELECT doc_id, toks,
               MD5(ARRAY_TO_STRING(LIST_SORT(toks), CHR(31))) AS tset
        FROM d
    ),
    reps AS (SELECT tset, ARG_MIN(toks, doc_id) AS toks FROM k GROUP BY tset),
    seeds(s, a, b) AS (VALUES {_SEED_VALUES}),
    ex AS (SELECT tset, UNNEST(toks) AS tok FROM reps),
    xh AS (
        SELECT tset, CAST(CONCAT('0x', SUBSTR(MD5(tok), 1, 15)) AS BIGINT) AS x
        FROM ex
    ),
    mh AS (
        SELECT xh.tset, sd.s,
               MIN(CAST((CAST(sd.a AS HUGEINT) * xh.x + sd.b) % {_P}
                   AS BIGINT)) AS mh
        FROM xh CROSS JOIN seeds sd
        GROUP BY xh.tset, sd.s
    ),
    sig AS (
        SELECT tset, s // {_N_HASHES // _N_BANDS} AS band,
               ARRAY_TO_STRING(LIST(mh ORDER BY s), ':') AS bsig
        FROM mh GROUP BY tset, s // {_N_HASHES // _N_BANDS}
    ),
    cand AS (
        SELECT DISTINCT a.tset AS set_a, b.tset AS set_b
        FROM sig a
        JOIN sig b ON a.band = b.band AND a.bsig = b.bsig AND a.tset < b.tset
    ),
    sized AS (
        SELECT c.set_a, c.set_b,
               LEN(LIST_INTERSECT(ra.toks, rb.toks)) AS ix,
               LEN(ra.toks) AS la, LEN(rb.toks) AS lb
        FROM cand c
        JOIN reps ra ON ra.tset = c.set_a
        JOIN reps rb ON rb.tset = c.set_b
    ),
    ver AS (
        SELECT set_a, set_b, ROUND(ix * 1e0 / (la + lb - ix), 6) AS jaccard
        FROM sized WHERE ix * 1e0 / (la + lb - ix) >= 0.9
    ),
    cross_p AS (
        SELECT LEAST(ma.doc_id, mb.doc_id) AS doc_a,
               GREATEST(ma.doc_id, mb.doc_id) AS doc_b, v.jaccard
        FROM ver v
        JOIN k ma ON ma.tset = v.set_a
        JOIN k mb ON mb.tset = v.set_b
    ),
    within AS (
        SELECT m1.doc_id AS doc_a, m2.doc_id AS doc_b, 1e0 AS jaccard
        FROM k m1 JOIN k m2 ON m1.tset = m2.tset AND m1.doc_id < m2.doc_id
    )
    SELECT doc_a, doc_b, jaccard FROM cross_p
    UNION ALL
    SELECT doc_a, doc_b, jaccard FROM within
    """

# The Mersenne split of (a * x + b) mod P in int64. With a = a1*2^31 + a0
# and x = x1*2^31 + x0 (x < 2^60),
#   a*x = a1*x1*2^62 + (a1*x0 + a0*x1)*2^31 + a0*x0
# and each term reduces with 2^61 = 1 (mod P):
#   a1*x1*2^62         = 2*a1*x1                  (< 2^60)
#   m*2^31, m=u*2^30+v = u + v*2^31               (< 2^61 + 2^32)
#   t = a0*x0          = (t & P) + (t >> 61)      (< 2^61 + 2)
# so the sum plus b (< 2^61) stays below 2^63 before the final mod.
_ROWS_PER_BAND = _N_HASHES // _N_BANDS
_A1 = np.array([a >> 31 for a in _A], dtype=np.int64)
_A0 = np.array([a & 0x7FFFFFFF for a in _A], dtype=np.int64)
_B0 = np.array(_B, dtype=np.int64)
# cells of one tile of the pair kernel's intersection product (float32)
_TILE_CELLS = 1 << 22


def cw_hashes(x: np.ndarray) -> np.ndarray:
    """(n,) int64 60-bit digests -> (n, 64) int64 (a_s * x + b_s) mod P."""
    x1 = (x >> 31)[:, None]
    x0 = (x & 0x7FFFFFFF)[:, None]
    m = _A1 * x0 + _A0 * x1
    t = _A0 * x0
    h = (
        2 * _A1 * x1
        + (m >> 30)
        + ((m & 0x3FFFFFFF) << 31)
        + (t & _P)
        + (t >> 61)
        + _B0
    )
    return h % _P


def token_digests(tokens: list[str]) -> np.ndarray:
    """Top 60 bits of md5(token): DuckDB's
    CAST(CONCAT('0x', SUBSTR(MD5(tok), 1, 15)) AS BIGINT)."""
    return np.fromiter(
        (int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big") >> 4 for t in tokens),
        dtype=np.int64,
        count=len(tokens),
    )


def minhash_signatures(toks: pa.Array) -> pa.Array:
    """list<string> -> list<int64> of the 64 minhashes per row; null where
    the token list is null or empty."""
    n = len(toks)
    flat = pc.list_flatten(toks)
    out = np.zeros((n, _N_HASHES), dtype=np.int64)
    valid = np.zeros(n, dtype=bool)
    if len(flat):
        enc = pc.dictionary_encode(flat)
        codes = enc.indices.to_numpy()
        per_hash = cw_hashes(token_digests(enc.dictionary.to_pylist())).T.copy()
        parent = pc.list_parent_indices(toks).to_numpy()
        starts = np.flatnonzero(np.r_[True, parent[1:] != parent[:-1]])
        rows = parent[starts]
        for s in range(_N_HASHES):
            out[rows, s] = np.minimum.reduceat(per_hash[s][codes], starts)
        valid[rows] = True
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, _N_HASHES * n + 1, _N_HASHES, dtype=np.int32)),
        pa.array(out.ravel()),
        mask=pa.array(~valid),
    )


def _signature_batches(batches):
    for b in batches:
        yield b.append_column("mh", minhash_signatures(b.column("toks")))


def with_minhash(df: DataFrame) -> DataFrame:
    """``df`` plus ``mh``: the 64-value signature of its ``toks`` column."""
    schema = StructType(df.schema.fields + [StructField("mh", ArrayType(LongType()))])
    return df.mapInArrow(_signature_batches, schema)


def _row_ids(x: np.ndarray) -> np.ndarray:
    """(n, r) int64 -> (n,) int64 ids, equal exactly where rows are equal;
    one column at a time, ids stay below n."""
    ids = np.zeros(len(x), dtype=np.int64)
    for c in range(x.shape[1]):
        col = np.unique(x[:, c], return_inverse=True)[1]
        ids = np.unique(ids * len(x) + col, return_inverse=True)[1]
    return ids


def _bucket_pairs(groups, band, sizes, codes, tile_cells):
    """Rep pairs (p, q, ix) of one bucket of k reps whose first agreeing
    band is ``band`` and with 19 * ix >= 9 * (la + lb). ``groups`` (k, 8)
    numbers each rep's band signatures (equal ids, equal signatures),
    ``sizes`` (k,) counts each rep's tokens and ``codes`` holds their
    concatenated token ids."""
    k = len(sizes)
    _, local = np.unique(codes, return_inverse=True)
    v = int(local.max()) + 1
    # float32 sums of 0/1 are exact while a count stays below 2^24
    inc = np.zeros((k, v), dtype=np.float32 if v < 1 << 24 else np.float64)
    inc[np.repeat(np.arange(k), sizes), local] = 1
    tile = max(1, tile_cells // k)
    ps, qs, ixs = [], [], []
    for r0 in range(0, k - 1, tile):
        r1 = min(r0 + tile, k - 1)
        # columns from r0 + 1 on: each pair once, as (row < column)
        ix = (inc[r0:r1] @ inc[r0 + 1 :].T).astype(np.int64)
        keep = 19 * ix >= 9 * (sizes[r0:r1, None] + sizes[None, r0 + 1 :])
        keep &= np.arange(r0, r1)[:, None] < np.arange(r0 + 1, k)[None, :]
        for i in range(band):
            keep &= groups[r0:r1, i, None] != groups[None, r0 + 1 :, i]
        p, q = np.nonzero(keep)
        ps.append(p + r0)
        qs.append(q + r0 + 1)
        ixs.append(ix[p, q])
    return np.concatenate(ps), np.concatenate(qs), np.concatenate(ixs)


_PAIR_SCHEMA = "ids_a array<bigint>, ids_b array<bigint>, ix int, la int, lb int"


def _bucket_keys(batch: pa.RecordBatch) -> np.ndarray:
    """(n, 1 + rows per band) int64: each row's band and its band signature."""
    n = batch.num_rows
    band = batch.column("band").to_numpy().astype(np.int64)
    mh = pc.list_flatten(batch.column("mh")).to_numpy().reshape(n, _N_BANDS, _ROWS_PER_BAND)
    return np.column_stack([band, mh[np.arange(n), band]])


def _pairs_in(batch: pa.RecordBatch, starts: np.ndarray, tile_cells: int):
    """Yield the verified pairs of the buckets that start at ``starts`` in
    ``batch`` (each runs to the next start or the end of the batch)."""
    n = batch.num_rows
    counts = np.diff(np.r_[starts, n])
    multi = np.flatnonzero(counts > 1)
    if not len(multi):
        return
    toks = batch.column("toks")
    sizes = pc.list_value_length(toks).to_numpy().astype(np.int64)
    offs = np.r_[0, np.cumsum(sizes)]
    codes = pc.dictionary_encode(pc.list_flatten(toks)).indices.to_numpy()
    mh = pc.list_flatten(batch.column("mh")).to_numpy().reshape(n, _N_BANDS, _ROWS_PER_BAND)
    groups = np.column_stack([_row_ids(mh[:, i]) for i in range(_N_BANDS)])
    band = batch.column("band").to_numpy()
    a, b, ix = [], [], []
    for i in multi:
        st, en = starts[i], starts[i] + counts[i]
        p, q, x = _bucket_pairs(
            groups[st:en], int(band[st]), sizes[st:en], codes[offs[st] : offs[en]], tile_cells
        )
        a.append(p + st)
        b.append(q + st)
        ix.append(x)
    a, b, ix = np.concatenate(a), np.concatenate(b), np.concatenate(ix)
    if len(a):
        ids = batch.column("ids")
        yield pa.RecordBatch.from_arrays(
            [
                ids.take(pa.array(a)),
                ids.take(pa.array(b)),
                pa.array(ix.astype(np.int32)),
                pa.array(sizes[a].astype(np.int32)),
                pa.array(sizes[b].astype(np.int32)),
            ],
            ["ids_a", "ids_b", "ix", "la", "lb"],
        )


def _one_batch(parts: list[pa.RecordBatch]) -> pa.RecordBatch:
    return pa.Table.from_batches(parts).combine_chunks().to_batches()[0]


def lsh_pairs(batches, tile_cells: int = _TILE_CELLS):
    """The pair kernel over one partition of band rows (band, toks, ids, mh)
    sorted by bucket. A bucket may span Arrow batches: the rows of the last
    bucket of a batch wait until a later row starts another bucket."""
    pending: list[pa.RecordBatch] = []
    last_key = None
    for batch in batches:
        if not batch.num_rows:
            continue
        keys = _bucket_keys(batch)
        new = np.r_[
            last_key is None or (keys[0] != last_key).any(),
            (keys[1:] != keys[:-1]).any(axis=1),
        ]
        last_key = keys[-1]
        starts = np.flatnonzero(new)
        if not len(starts):
            pending.append(batch)
            continue
        if pending:
            pending.append(batch.slice(0, starts[0]))
            yield from _pairs_in(_one_batch(pending), np.array([0]), tile_cells)
        yield from _pairs_in(batch.slice(0, starts[-1]), starts[:-1], tile_cells)
        pending = [batch.slice(starts[-1])]
    if pending:
        yield from _pairs_in(_one_batch(pending), np.array([0]), tile_cells)


@query("dedup_minhash_lsh_exact", oracle=_ORACLE)
def dedup_minhash_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship MinHash+LSH near-dup pipeline with a DuckDB-replayable
    hash family, hash-exact against the oracle.

    Documents with the same token set collapse to one representative
    (keyed by the md5 of the sorted set) that carries the list of its
    doc_ids. The signature kernel gives each representative its 64
    minhashes; 8 bands of 8 give 8 band rows per representative. The band
    rows are hash-partitioned on (band, band signature) and sorted, and the
    pair kernel verifies every bucket exactly. Verified representative
    pairs expand to doc pairs through the two member lists and inherit the
    representatives' Jaccard; members of one representative pair with
    Jaccard 1.0. Null-text documents have no token set and pair with
    nothing, as in the oracle. Throughput-critical corpora use
    dedup_minhash_lsh (xxhash64, rows-only and recall-gated).

    Scale shape: one shuffle collapses the documents, one partitions the
    band rows; a bucket of k representatives costs a k x k product in row
    tiles, never an all-pairs product over the corpus."""
    d = table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = F.array_distinct(F.split("text", " "))
    tset = F.md5(F.concat_ws("\x1f", F.sort_array(toks)))
    reps = (
        d.select("doc_id", toks.alias("toks"), tset.alias("tset"))
        .groupBy("tset")
        .agg(
            F.min_by("toks", "doc_id").alias("toks"),
            F.collect_list("doc_id").alias("ids"),
        )
        .select("toks", "ids")
        .cache()
    )
    bsig = F.array(
        *[F.slice("mh", b * _ROWS_PER_BAND + 1, _ROWS_PER_BAND) for b in range(_N_BANDS)]
    )
    band_rows = with_minhash(reps).select(
        "toks", "ids", "mh", F.posexplode(bsig).alias("band", "bsig")
    )
    # an explicit partition count: AQE would coalesce these few MB of band
    # rows into one task, and the pair kernel is CPU-bound
    pairs = (
        band_rows.repartition(spark.sparkContext.defaultParallelism, "band", "bsig")
        .sortWithinPartitions("band", "bsig")
        .select("band", "toks", "ids", "mh")
        .mapInArrow(lsh_pairs, _PAIR_SCHEMA)
    )
    jac = F.round(F.col("ix") / (F.col("la") + F.col("lb") - F.col("ix")), 6)
    cross = (
        pairs.select(F.explode("ids_a").alias("da"), "ids_b", jac.alias("jaccard"))
        .select("da", F.explode("ids_b").alias("db"), "jaccard")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jaccard",
        )
    )
    within = (
        reps.where(F.size("ids") > 1)
        .select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(1.0).alias("jaccard"))
    )
    return cross.unionAll(within)
