"""Tests for the text-dedup tiers (ext/dedup_text.py): exact, SimHash,
MinHash-LSH + Jaccard verification."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_weather_jabar_spark.ext.dedup_text import (
    exact_dedup,
    jaccard_verify,
    minhash_lsh_candidates,
    minhash_signatures,
    simhash64,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "by the warm fire and the rain falls gently on the quiet roof tonight"
)
NEAR = BASE.replace("lazy dog", "lazy old dog")  # small edit → near-dup
OTHER = (
    "completely different words about spark query engines columnar storage "
    "shuffle partitions broadcast joins and adaptive execution plans running"
)


def _docs(spark):
    rows = [
        (1, BASE), (2, BASE),      # exact dup pair
        (3, NEAR),                 # near-dup of 1/2
        (4, OTHER),
        (5, "tiny doc"),           # shorter than shingle width
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_keeps_min_id(spark):
    out = exact_dedup(_docs(spark))
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 3, 4, 5]


def test_minhash_identical_docs_identical_sigs(spark):
    sigs = {
        r["doc_id"]: r["minhash"]
        for r in minhash_signatures(_docs(spark)).collect()
    }
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]
    assert len(sigs[1]) == 16 and all(isinstance(v, int) for v in sigs[1])
    # near-dup shares most minhashes with the original
    agree = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert agree >= 8


def test_lsh_candidates_and_jaccard(spark):
    docs = _docs(spark)
    cand = minhash_lsh_candidates(docs)
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert (1, 2) in pairs           # exact dups always collide
    assert (1, 4) not in pairs and (2, 4) not in pairs
    verified = jaccard_verify(cand, docs, threshold=0.5)
    jmap = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified.collect()}
    assert jmap[(1, 2)] == 1.0
    if (1, 3) in pairs:              # banding is probabilistic for near-dups
        assert jmap.get((1, 3), 0.0) > 0.5


def test_simhash_exact_dups_equal_near_dups_close(spark):
    out = {r["doc_id"]: r["simhash"] for r in simhash64(_docs(spark)).collect()}
    assert out[1] == out[2]
    ham_near = bin(out[1] ^ out[3]).count("1")
    ham_far = bin(out[1] ^ out[4]).count("1")
    assert ham_near < ham_far
    assert ham_near <= 12


def test_simhash_deterministic_across_runs(spark):
    a = {r["doc_id"]: r["simhash"] for r in simhash64(_docs(spark)).collect()}
    b = {r["doc_id"]: r["simhash"] for r in simhash64(_docs(spark)).collect()}
    assert a == b


def test_simhash_candidates_finds_planted_neardup(spark):
    from etl_weather_jabar_spark.ext.dedup_text import simhash_candidates

    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing in the garden outside"
    )
    rows = [
        (1, base),
        (2, base.replace("warm", "cold")),  # one-token change -> tiny hamming
        (3, "completely different text about distributed query engines and "
            "columnar storage formats with vectorized execution pipelines"),
        (4, base),  # exact dup of 1 -> hamming 0
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_candidates(docs, max_hamming=6).collect()
    }
    assert got.get((1, 4)) == 0
    assert (1, 2) in got and got[(1, 2)] <= 6
    assert (2, 4) in got
    assert all(3 not in pair for pair in got)


def test_incremental_exact_dedup_against_persisted_index(spark, tmp_path):
    """Corpus-growth dedup: batch 2 drops content already committed by
    batch 1 (cross-batch, via the index — not by rescanning batch 1) and
    dedups within itself; a replayed batch contributes nothing new."""
    from etl_weather_jabar_spark.ext.dedup_text import incremental_exact_dedup
    from etl_weather_jabar_spark.snapshots import snapshot_read

    idx = str(tmp_path / "fp_index")
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], ["doc_id", "text"]
    )
    s1 = incremental_exact_dedup(b1, idx)
    assert {(r["doc_id"], r["text"]) for r in s1.collect()} == {
        (1, "alpha"),
        (2, "beta"),
    }
    b2 = spark.createDataFrame(
        [(10, "beta"), (11, "gamma"), (12, "gamma"), (13, "delta")],
        ["doc_id", "text"],
    )
    s2 = incremental_exact_dedup(b2, idx)
    assert {(r["doc_id"], r["text"]) for r in s2.collect()} == {
        (11, "gamma"),
        (13, "delta"),
    }
    # replay of batch 2: everything already indexed
    assert incremental_exact_dedup(b2, idx).count() == 0
    # the index holds exactly the distinct fingerprints
    assert snapshot_read(spark, idx).select("__h").distinct().count() == 4


def test_crossdoc_repeated_ngrams_planted(spark):
    """Planted shared 8-gram across two docs is found; a doc shorter
    than n gets n_ngrams=0 and NULL dup_bp; unique docs score 0."""
    from etl_weather_jabar_spark.ext.dedup_text import (
        crossdoc_repeated_ngrams,
    )

    shared = "one two three four five six seven eight"
    rows = [
        (1, shared + " alpha beta"),
        (2, "prefix " + shared),
        (3, "totally different words with no overlap at all here"),
        (4, "short doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_ngrams"], r["dup_ngrams"], r["dup_bp"])
        for r in crossdoc_repeated_ngrams(df, n=8).collect()
    }
    # doc1: 10 tokens -> 3 positions, 1 shared with doc2
    assert got[1] == (3, 1, 3333)
    # doc2: 9 tokens -> 2 positions, 1 shared
    assert got[2] == (2, 1, 5000)
    assert got[3] == (2, 0, 0)
    assert got[4] == (0, 0, None)


def _py_cdc_chunks(text: str) -> list[str]:
    """Reference chunker: breaker = md5(tok+':cdc') first hex in 012."""
    import hashlib

    chunks, cur = [], []
    for tok in text.split():
        cur.append(tok)
        if hashlib.md5((tok + ":cdc").encode()).hexdigest()[0] in "012":
            chunks.append(" ".join(cur))
            cur = []
    if cur:
        chunks.append(" ".join(cur))
    return chunks


def test_cdc_chunk_dedup_matches_python_replay(spark):
    from collections import Counter
    import hashlib

    from etl_weather_jabar_spark.ext.dedup_text import cdc_chunk_dedup

    rows = [
        (1, BASE),
        (2, BASE + " extra trailing words here"),  # shares a prefix run
        (3, OTHER),
        (4, "one"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r for r in cdc_chunk_dedup(docs).collect()
    }

    per_doc = {i: _py_cdc_chunks(t) for i, t in rows}
    df_cnt = Counter()
    for i, chs in per_doc.items():
        for h in {c for c in chs}:
            df_cnt[h] += 1
    for i, chs in per_doc.items():
        kept = [c for c in chs if df_cnt[c] <= 1]
        assert out[i]["n_chunks"] == len(chs)
        assert out[i]["n_kept"] == len(kept)
        assert out[i]["kept_toks"] == sum(len(c.split()) for c in kept)
        assert out[i]["clean_fp"] == hashlib.md5(
            " ".join(kept).encode()
        ).hexdigest()


def test_cdc_chunks_stable_past_insertion_point(spark):
    """The content-defined property: inserting a token near the front
    changes only chunks up to the next breaker; later chunk hashes are
    identical, so unchanged regions still dedup."""
    from etl_weather_jabar_spark.ext.dedup_text import cdc_chunks

    edited = "inserted " + BASE
    docs = spark.createDataFrame(
        [(1, BASE), (2, edited)], ["doc_id", "text"]
    )
    chunks = {
        (r["doc_id"], r["chunk_id"]): r["chunk"]
        for r in cdc_chunks(docs).collect()
    }
    base_chunks = _py_cdc_chunks(BASE)
    edit_chunks = _py_cdc_chunks(edited)
    # python reference agrees with the Spark chunker
    for j, c in enumerate(base_chunks):
        assert chunks[(1, j)] == c
    for j, c in enumerate(edit_chunks):
        assert chunks[(2, j)] == c
    # all chunks after the first (which absorbed the insertion) realign
    assert edit_chunks[1:] == base_chunks[len(base_chunks) - len(edit_chunks) + 1:]
    assert len(set(base_chunks) & set(edit_chunks)) >= len(base_chunks) - 2


def test_incremental_chunk_dedup_corpus_growth(spark, tmp_path):
    """Cross-batch chunk-df accumulation: a chunk unique within batch 1
    survives there, but when batch 2 re-uses it the accumulated df
    crosses the cap and batch 2's doc loses it (batch 1's output is
    ledgered, not retroactively re-cleaned). Replaying batch 2 with the
    same batch_id neither double-counts the index nor changes the
    output."""
    import hashlib

    from etl_weather_jabar_spark.ext.dedup_text import (
        incremental_chunk_dedup,
    )
    from etl_weather_jabar_spark.snapshots import snapshot_read

    idx = str(tmp_path / "chunk_index")
    b1 = spark.createDataFrame([(1, BASE), (2, OTHER)], ["doc_id", "text"])
    out1 = {
        r["doc_id"]: r
        for r in incremental_chunk_dedup(spark, b1, idx, 0).collect()
    }
    # batch-unique chunks all survive in batch 1
    assert out1[1]["n_kept"] == out1[1]["n_chunks"]
    assert out1[2]["n_kept"] == out1[2]["n_chunks"]

    # batch 2 repeats BASE (doc 3) → every chunk of doc 3 is now hot;
    # doc 4 stays unique and keeps everything
    b2 = spark.createDataFrame(
        [(3, BASE), (4, "totally fresh words here")], ["doc_id", "text"]
    )
    out2 = {
        r["doc_id"]: r
        for r in incremental_chunk_dedup(spark, b2, idx, 1).collect()
    }
    assert out2[3]["n_kept"] == 0
    assert out2[3]["clean_fp"] == hashlib.md5(b"").hexdigest()
    assert out2[4]["n_kept"] == out2[4]["n_chunks"]

    idx_state = {
        r["h"]: r["n_rows"] for r in snapshot_read(spark, idx).collect()
    }
    # replay of batch 2: output identical, index unchanged
    out2r = {
        r["doc_id"]: r
        for r in incremental_chunk_dedup(spark, b2, idx, 1).collect()
    }
    assert {k: tuple(v) for k, v in out2.items()} == {
        k: tuple(v) for k, v in out2r.items()
    }
    idx_after = {
        r["h"]: r["n_rows"] for r in snapshot_read(spark, idx).collect()
    }
    assert idx_after == idx_state
    # BASE's chunks were seen by docs 1 and 3 → df exactly 2
    base_chunk_hashes = {
        hashlib.md5(c.encode()).hexdigest() for c in _py_cdc_chunks(BASE)
    }
    for h in base_chunk_hashes:
        assert idx_after[h] == 2


def _py_exactsubstr(docs, k=8):
    """Brute-force reference for exact_substring_dedup."""
    import hashlib

    grams = {}
    toks = {d: t.split(" ") for d, t in docs}
    for d, t in sorted(toks.items()):
        for p in range(len(t) - k + 1):
            grams.setdefault(" ".join(t[p : p + k]), []).append((d, p))
    out = {}
    starts = {d: set() for d in toks}
    for occs in grams.values():
        if len(occs) < 2:
            continue
        for d, p in sorted(occs)[1:]:
            starts[d].add(p)
    for d, t in toks.items():
        removed = set()
        for p in starts[d]:
            removed.update(range(p, p + k))
        kept = [tok for i, tok in enumerate(t) if i not in removed]
        out[d] = (
            len(t),
            len(starts[d]),
            len(removed & set(range(len(t)))),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    return out


def test_exact_substring_dedup_matches_brute_force(spark):
    """Planted repeats: cross-doc span, overlapping spans (long shared
    run), within-doc repeat, and a doc shorter than k — all pinned
    against an independent python reference."""
    import hashlib

    from etl_weather_jabar_spark.ext.dedup_text import (
        exact_substring_dedup,
    )

    span = " ".join(f"s{i}" for i in range(12))  # 12 > k: overlap-merge
    rows = [
        (1, "a0 " + span + " a1 a2"),  # canonical (smallest doc, pos)
        (2, "b0 b1 " + span),  # loses the whole 12-token run
        (3, span + " c0 " + span),  # within-doc: 2nd occurrence removed
        (4, "short doc here"),  # < k tokens, untouched
        # hash-derived filler corpus with incidental non-repeats
        *[
            (
                10 + d,
                " ".join(
                    hashlib.md5(f"{d}:{i}".encode()).hexdigest()[:6]
                    for i in range(30)
                ),
            )
            for d in range(6)
        ],
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (
            r["n_toks"],
            r["n_dup_starts"],
            r["n_removed"],
            r["clean_fp"],
        )
        for r in exact_substring_dedup(docs, k=8).collect()
    }
    assert got == _py_exactsubstr(rows, k=8)
    # the canonical copy survives intact; the repeat is fully excised
    assert got[1][2] == 0
    assert got[2][2] == 12
    # doc 3: doc 1 holds the canonical occurrence, so BOTH of doc 3's
    # copies of the span are excised
    assert got[3][2] == 24
    assert got[4] == (
        3,
        0,
        0,
        hashlib.md5(b"short doc here").hexdigest(),
    )


def test_incremental_lsh_neardup_corpus_growth(spark, tmp_path):
    """Corpus-growth near-dup: batch 1 dedups within itself (keep-first
    clone drop), batch 2's clone of an INDEXED doc drops via the
    persisted banded-signature index without touching batch-1 text,
    fresh docs survive, and the index grows by bands x survivors."""
    import hashlib

    from etl_weather_jabar_spark.ext.dedup_text import (
        incremental_lsh_neardup,
    )
    from etl_weather_jabar_spark.snapshots import snapshot_read

    def words(seed, n=40):
        return " ".join(
            hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:5]
            for i in range(n)
        )

    idx = str(tmp_path / "lsh_index")
    b1 = spark.createDataFrame(
        [(1, words("x")), (2, words("x")), (3, words("c"))],
        ["doc_id", "text"],
    )
    s1 = sorted(
        r["doc_id"]
        for r in incremental_lsh_neardup(b1, idx, threshold=0.7).collect()
    )
    assert s1 == [1, 3]  # clone 2 dropped within-batch, keep-first

    b2 = spark.createDataFrame(
        [(10, words("x")), (11, words("e")), (12, words("e"))],
        ["doc_id", "text"],
    )
    s2 = sorted(
        r["doc_id"]
        for r in incremental_lsh_neardup(b2, idx, threshold=0.7).collect()
    )
    assert s2 == [11]  # 10 drops vs index, 12 drops vs 11 in-batch

    rows = snapshot_read(spark, idx).collect()
    # 4 bands x 3 total survivors (1, 3, 11)
    assert len(rows) == 12
    assert {r["doc_id"] for r in rows} == {1, 3, 11}
    # indexed signature rides with every band row (text-free verify)
    assert all(len(r["sig"].split(",")) == 16 for r in rows)


def test_incremental_lsh_neardup_presigned_matches(spark, tmp_path):
    """The presigned fast path (one shared signature pass, round-9
    optimization) must decide exactly what the internal signing does:
    same survivors per batch, same persisted index rows."""
    import hashlib

    from etl_weather_jabar_spark.ext.dedup_text import (
        incremental_lsh_neardup,
        incremental_signatures,
    )
    from etl_weather_jabar_spark.snapshots import snapshot_read

    def words(seed, n=40):
        return " ".join(
            hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:5]
            for i in range(n)
        )

    rows = [
        (1, words("x")),
        (2, words("x")),
        (3, words("c")),
        (10, words("x")),
        (11, words("e")),
        (12, words("e")),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    b1 = docs.where("doc_id < 10")
    b2 = docs.where("doc_id >= 10")

    idx_a = str(tmp_path / "idx_internal")
    s1a = {
        r["doc_id"]
        for r in incremental_lsh_neardup(b1, idx_a, threshold=0.7).collect()
    }
    s2a = {
        r["doc_id"]
        for r in incremental_lsh_neardup(b2, idx_a, threshold=0.7).collect()
    }

    idx_b = str(tmp_path / "idx_presigned")
    sigs = incremental_signatures(docs).localCheckpoint()
    s1b = {
        r["doc_id"]
        for r in incremental_lsh_neardup(
            b1, idx_b, threshold=0.7,
            presigned=sigs.where("doc_id < 10"),
        ).collect()
    }
    s2b = {
        r["doc_id"]
        for r in incremental_lsh_neardup(
            b2, idx_b, threshold=0.7,
            presigned=sigs.where("doc_id >= 10"),
        ).collect()
    }
    assert s1a == s1b and s2a == s2b

    key = lambda r: (r["band"], r["bucket"], r["doc_id"], r["sig"])  # noqa: E731
    assert sorted(
        map(key, snapshot_read(spark, idx_a).collect())
    ) == sorted(map(key, snapshot_read(spark, idx_b).collect()))


def test_incremental_lsh_neardup_presigned_missing_columns_raise(spark, tmp_path):
    """A presigned frame without one of {id_col, minhash, sig} is refused
    with ValueError by a schema check alone: no Spark job runs and no
    index is written."""
    import os

    import pytest

    from etl_weather_jabar_spark.ext.dedup_text import (
        incremental_lsh_neardup,
        incremental_signatures,
    )

    docs = spark.createDataFrame([(1, BASE), (2, NEAR)], ["doc_id", "text"])
    sigs = incremental_signatures(docs)
    idx = str(tmp_path / "idx")
    sc = spark.sparkContext
    sc.setJobGroup("presigned-check", "presigned column check")
    try:
        for col in ("doc_id", "minhash", "sig"):
            with pytest.raises(ValueError, match=col):
                incremental_lsh_neardup(docs, idx, presigned=sigs.drop(col))
        assert sc.statusTracker().getJobIdsForGroup("presigned-check") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not os.path.exists(idx)


def test_incremental_exact_substring_dedup_corpus_growth(spark, tmp_path):
    """ExactSubstr at corpus growth: the first batch (empty index)
    equals batch mode exactly; a later batch's spans duplicating
    INDEXED k-grams are removed with the corpus canonical surviving
    (arrival precedence); fresh text passes untouched; replaying a
    committed batch is byte-identical (a replayed doc's own occurrence
    IS the indexed canonical)."""
    from etl_weather_jabar_spark.ext.dedup_text import (
        exact_substring_dedup,
        incremental_exact_substring_dedup,
    )

    span = " ".join(f"s{i}" for i in range(10))  # 10-token shared span
    b1 = spark.createDataFrame(
        [
            (1, span + " " + " ".join(f"a{i}" for i in range(10))),
            (2, " ".join(f"b{i}" for i in range(5)) + " " + span),
        ],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "ssidx")

    got1 = sorted(
        map(
            tuple,
            incremental_exact_substring_dedup(b1, idx, k=8).collect(),
        )
    )
    want1 = sorted(map(tuple, exact_substring_dedup(b1, k=8).collect()))
    assert got1 == want1  # empty index ⇒ batch semantics
    by_id = {r[0]: r for r in got1}
    assert by_id[1][2] == 0  # doc 1 canonical: no removal starts
    assert by_id[2][3] == 10  # doc 2 loses the whole 10-token span

    b2 = spark.createDataFrame(
        [
            (3, span + " tail0 tail1"),  # duplicates the INDEXED span
            (4, " ".join(f"c{i}" for i in range(12))),  # fresh
        ],
        ["doc_id", "text"],
    )
    got2 = {r["doc_id"]: r for r in
            incremental_exact_substring_dedup(b2, idx, k=8).collect()}
    assert got2[3]["n_removed"] == 10  # corpus canonical wins
    assert got2[4]["n_removed"] == 0 and got2[4]["n_dup_starts"] == 0

    # replay batch 2 after its commit: byte-identical decisions
    replay = {r["doc_id"]: r for r in
              incremental_exact_substring_dedup(b2, idx, k=8).collect()}
    assert {k: tuple(v) for k, v in replay.items()} == {
        k: tuple(v) for k, v in got2.items()
    }


def test_winnow_fingerprints_replay_and_guarantee(spark):
    """Winnowing (MOSS) selection pinned against an independent python
    replay — including the rightmost-min tie-break on an all-identical-
    hash document and the short-doc edge cases — and the paper's
    guarantee validated: two documents sharing a token run of length
    ≥ w+k−1 (= 6 for k=3, w=4) share at least one selected
    fingerprint."""
    import hashlib

    from etl_weather_jabar_spark.ext.dedup_text import winnow_fingerprints

    shared_run = "lorem ipsum dolor sit amet consectetur"  # 6 tokens
    rows = [
        (1, "prefix words here " + shared_run + " trailing bits"),
        (2, shared_run + " totally different ending tokens"),
        (3, "x x x x x x x"),      # all-equal hashes → tie-break path
        (4, "just two"),           # < k tokens → no k-grams
        (5, "only three tokens"),  # exactly one k-gram, one window
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got: dict[int, set] = {}
    for r in winnow_fingerprints(docs, k=3, w=4).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["h"]))

    def replay(text: str, k: int = 3, w: int = 4) -> set:
        t = [x for x in text.lower().split() if x]
        hs = [
            int(
                hashlib.md5(" ".join(t[i:i + k]).encode()).hexdigest()[:14],
                16,
            )
            for i in range(len(t) - k + 1)
        ]
        m = len(hs)
        if m == 0:
            return set()
        sel = set()
        n_starts = max(m - w + 1, 1)
        for s in range(1, n_starts + 1):
            e = min(s + w - 1, m)
            # smallest hash, rightmost position on ties
            h, _, p = min(
                (hs[p - 1], e - p, p) for p in range(s, e + 1)
            )
            sel.add((e - _, h))
        return sel

    for did, text in rows:
        assert got.get(did, set()) == replay(text), did

    # the winnowing guarantee on the planted shared run
    assert {h for _, h in got[1]} & {h for _, h in got[2]}
    # tie-break sanity: every window of doc 3 has one hash value, and
    # the selected positions are each window's RIGHTMOST slot
    m3 = 7 - 2
    assert {p for p, _ in got[3]} == {
        min(s + 3, m3) for s in range(1, max(m3 - 3, 1) + 1)
    }
    assert got.get(4, set()) == set()
    assert len(got[5]) == 1
