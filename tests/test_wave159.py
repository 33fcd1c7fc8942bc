"""Wave-159: the hash-exact MinHash+LSH variant — no false positives,
recall vs the exact quadratic baseline, and agreement with the production
xxhash64 variant's within-group (exact-duplicate) pairs; its two Arrow
kernels against DuckDB and a brute-force pair check; and the whole query
on a micro corpus against the oracle."""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from data_ingestor_web_app_spark.llm import wave159 as w
from data_ingestor_web_app_spark.registry import QUERIES


def test_minhash_exact_recall_and_no_false_positives(spark, sf_small):
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in QUERIES["dedup_near"](spark, sf_small).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in QUERIES["dedup_minhash_lsh_exact"](spark, sf_small).collect()
    }
    # verification step guarantees no false positives
    assert set(got) <= set(exact)
    if exact:
        recall = len(set(got) & set(exact)) / len(exact)
        assert recall >= 0.9, f"recall {recall:.3f} below 0.9"
    # reported Jaccards agree with the exact baseline on shared pairs
    for pair in got:
        assert abs(got[pair] - exact[pair]) < 1e-6


def test_minhash_exact_within_groups_match_production_variant(spark, sf_small):
    """Exact-duplicate (jaccard=1.0) pairs do not depend on the hash family
    — both variants must emit the identical within-group pair set."""
    prod = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["dedup_minhash_lsh"](spark, sf_small).collect()
        if r["jaccard"] == 1.0
    }
    ours = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["dedup_minhash_lsh_exact"](spark, sf_small).collect()
        if r["jaccard"] == 1.0
    }
    assert prod == ours


# --- the two Arrow kernels, checked without Spark -------------------------

_P = w._P


def _duck_hashes(xs: list[int]) -> dict[tuple[int, int], int]:
    """(row, seed) -> (a * x + b) mod P in DuckDB HUGEINT, the oracle's form."""
    con = duckdb.connect()
    con.register("xs", pa.table({"i": list(range(len(xs))), "x": pa.array(xs, pa.int64())}))
    rows = con.sql(
        f"""
        WITH seeds(s, a, b) AS (VALUES {w._SEED_VALUES})
        SELECT i, s, CAST((CAST(a AS HUGEINT) * x + b) % {_P} AS BIGINT)
        FROM xs CROSS JOIN seeds
        """
    ).fetchall()
    return {(i, s): h for i, s, h in rows}


def test_cw_hashes_match_duckdb_hugeint_at_extreme_digests():
    xs = [0, 1, (1 << 31) - 1, 1 << 31, (1 << 60) - 1, (1 << 60) - 2, 0x0F0F0F0F0F0F0F0]
    got = w.cw_hashes(np.array(xs, dtype=np.int64))
    assert got.shape == (len(xs), w._N_HASHES)
    assert got.dtype == np.int64
    want = _duck_hashes(xs)
    for (i, s), h in want.items():
        assert int(got[i, s]) == h, (xs[i], s)


def _duck_minhash(token_lists: list[list[str]]) -> dict[int, list[int]]:
    """The oracle's xh and mh CTEs over one representative per list."""
    con = duckdb.connect()
    con.register(
        "reps",
        pa.table({"rid": list(range(len(token_lists))), "toks": pa.array(token_lists, pa.list_(pa.string()))}),
    )
    rows = con.sql(
        f"""
        WITH seeds(s, a, b) AS (VALUES {w._SEED_VALUES}),
        ex AS (SELECT rid, UNNEST(toks) AS tok FROM reps),
        xh AS (
            SELECT rid, CAST(CONCAT('0x', SUBSTR(MD5(tok), 1, 15)) AS BIGINT) AS x
            FROM ex
        )
        SELECT xh.rid, sd.s,
               MIN(CAST((CAST(sd.a AS HUGEINT) * xh.x + sd.b) % {_P} AS BIGINT))
        FROM xh CROSS JOIN seeds sd
        GROUP BY xh.rid, sd.s
        """
    ).fetchall()
    out: dict[int, list[int]] = {}
    for rid, s, h in sorted(rows):
        out.setdefault(rid, []).append(h)
    return out


_token = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
    max_size=6,
)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.lists(_token, min_size=1, max_size=12, unique=True), min_size=1, max_size=8))
def test_signature_kernel_matches_oracle_minhash(token_lists):
    got = w.minhash_signatures(pa.array(token_lists, pa.list_(pa.string()))).to_pylist()
    want = _duck_minhash(token_lists)
    assert got == [want[i] for i in range(len(token_lists))]


def test_signature_kernel_nulls_empties_and_slices():
    arr = pa.array([["b", "a"], None, [], ["a", "b"], ["ü"]], pa.list_(pa.string()))
    got = w.minhash_signatures(arr).to_pylist()
    assert got[1] is None and got[2] is None
    assert got[0] == got[3] == _duck_minhash([["a", "b"]])[0]
    assert w.minhash_signatures(arr.slice(3)).to_pylist() == [got[3], got[4]]


def _band_rows(sigs: np.ndarray, token_sets: list[list[str]]):
    """One row per (rep, band), sorted by (band, band signature) like the
    query's sortWithinPartitions; each rep's member list is [its index]."""
    rpb = w._ROWS_PER_BAND
    rows = sorted(
        (j, tuple(sigs[r, j * rpb : (j + 1) * rpb]), r)
        for r in range(len(token_sets))
        for j in range(w._N_BANDS)
    )
    return pa.table(
        {
            "band": pa.array([j for j, _, _ in rows], pa.int32()),
            "toks": pa.array([token_sets[r] for _, _, r in rows], pa.list_(pa.string())),
            "ids": pa.array([[r] for _, _, r in rows], pa.list_(pa.int64())),
            "mh": pa.array([sigs[r].tolist() for _, _, r in rows], pa.list_(pa.int64())),
        }
    )


def _kernel_pairs(table: pa.Table, batch_rows: int, **kw) -> list[tuple]:
    out = []
    for b in w.lsh_pairs(iter(table.to_batches(max_chunksize=batch_rows)), **kw):
        for ia, ib, ix, la, lb in zip(*(b.column(c).to_pylist() for c in b.schema.names)):
            (p,), (q,) = ia, ib
            out.append((min(p, q), max(p, q), ix, la, lb))
    return out


def _brute_force(sigs: np.ndarray, token_sets: list[list[str]]) -> tuple[set, dict]:
    """All pairs: the first agreeing band, then the exact Jaccard >= 0.9 test."""
    rpb = w._ROWS_PER_BAND
    want, first_band = set(), {}
    for p in range(len(token_sets)):
        for q in range(p + 1, len(token_sets)):
            agree = [
                j
                for j in range(w._N_BANDS)
                if (sigs[p, j * rpb : (j + 1) * rpb] == sigs[q, j * rpb : (j + 1) * rpb]).all()
            ]
            if not agree:
                continue
            a, b = set(token_sets[p]), set(token_sets[q])
            ix, la, lb = len(a & b), len(a), len(b)
            if 19 * ix >= 9 * (la + lb):
                want.add((p, q, ix, la, lb))
                first_band[(p, q)] = agree[0]
    return want, first_band


def _dense_corpus(seed: int, n: int = 60):
    """Token sets of 8-12 out of 13 tokens (many pairs near Jaccard 0.9),
    and signatures whose bands take one of two values each, so pairs agree
    first at every band and buckets hold many reps."""
    rng = np.random.default_rng(seed)
    vocab = [f"t{i}" for i in range(12)] + ["ž"]
    token_sets = [
        list(rng.choice(vocab, size=int(rng.integers(8, 13)), replace=False)) for _ in range(n)
    ]
    token_sets[0], token_sets[1] = vocab[:9], vocab[:10]  # 19 * 9 == 9 * (9 + 10)
    pattern = rng.integers(0, 2, size=(n, w._N_BANDS))
    sigs = np.repeat(pattern, w._ROWS_PER_BAND, axis=1).astype(np.int64) * (_P - 1)
    sigs[:, 0] += np.arange(n) % 3 > 0  # band 0 splits into more buckets
    return sigs, token_sets


def _bucket_sizes(table: pa.Table) -> list[int]:
    keys = [
        (j, tuple(mh[j * w._ROWS_PER_BAND : (j + 1) * w._ROWS_PER_BAND]))
        for j, mh in zip(table.column("band").to_pylist(), table.column("mh").to_pylist())
    ]
    return [keys.count(k) for k in set(keys)]


def test_pair_kernel_matches_brute_force():
    sigs, token_sets = _dense_corpus(seed=7)
    want, first_band = _brute_force(sigs, token_sets)
    table = _band_rows(sigs, token_sets)
    got = _kernel_pairs(table, batch_rows=7)
    assert len(got) == len(set(got))  # each pair once, in its first agreeing band
    assert set(got) == want
    # the corpus covers what the kernel must get right
    assert max(_bucket_sizes(table)) >= 3
    assert {first_band[p[:2]] for p in want} >= {0, 1, 2, 3}
    assert any(19 * ix == 9 * (la + lb) for _, _, ix, la, lb in want)
    assert (0, 1, 9, 9, 10) in want


def test_pair_kernel_tiling_matches_untiled():
    sigs, token_sets = _dense_corpus(seed=11, n=80)
    sigs[:, : w._ROWS_PER_BAND] = 5  # one band-0 bucket of all 80 reps
    table = _band_rows(sigs, token_sets)
    untiled = _kernel_pairs(table, batch_rows=1000)
    tiled = _kernel_pairs(table, batch_rows=13, tile_cells=100)  # 1-row tiles
    assert sorted(tiled) == sorted(untiled)
    assert sorted(untiled) == sorted(_brute_force(sigs, token_sets)[0])


# --- the whole query on a micro corpus, against the DuckDB oracle --------

_MICRO = [
    (0, None),
    (1, None),
    (2, ""),
    (3, ""),
    (4, "café naïve 日本語 über straße"),
    (5, "straße über 日本語 naïve café"),
    (6, "a b c d e f g h i j"),
    (7, "j i h g f e d c b a"),
    (8, "a b c d e f g h i j a"),
    (9, "a b c d e f g h i"),
    (10, "a b c d e f g h i j k"),
    (11, "x y z"),
    (12, None),
]


def test_minhash_exact_micro_corpus_matches_oracle(spark, tmp_path):
    """Null text pairs with nothing (the oracle's MD5(NULL) is NULL); ''
    documents pair with each other; non-ASCII tokens; a duplicate group of
    three plus near-duplicates at and above Jaccard 0.9."""
    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame(_MICRO, "doc_id long, text string").write.parquet(path)
    got = sorted(
        tuple(r) for r in QUERIES["dedup_minhash_lsh_exact"](spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}/*.parquet'")
    want = sorted(con.sql(w._ORACLE).fetchall())
    assert got == want
    assert (2, 3, 1.0) in got and (6, 7, 1.0) in got and (6, 8, 1.0) in got
    assert (6, 9, 0.9) in got and (6, 10, 0.909091) in got
    assert not any(a in (0, 1, 12) or b in (0, 1, 12) for a, b, _ in got)


def test_minhash_lsh_micro_corpus_is_subset_of_exact_near(spark, tmp_path):
    """The xxhash64 variant's pairs stay within dedup_near's exact answer,
    which pairs no null-text document."""
    spark.createDataFrame(_MICRO, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    near = {(r["doc_a"], r["doc_b"]) for r in QUERIES["dedup_near"](spark, str(tmp_path)).collect()}
    lsh = {(r["doc_a"], r["doc_b"]) for r in QUERIES["dedup_minhash_lsh"](spark, str(tmp_path)).collect()}
    assert lsh <= near
    assert (2, 3) in lsh and (6, 7) in lsh
